package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.util.Try

import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.xml.XSDToSchema
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables

/** XML / file-source / sink surface — SURVEY.md §2.1 (sources & sinks) and
  * §2.7 fn_xml_* rows, i.e. the XML Reader / XML Parser / XML-to-JSON
  * capability of the reference (SURVEY §0.4, public CDAP surface).
  *
  * Oracle scheme (FIXTURES.md §B): DuckDB has no XML, so every query here
  * generates its XML/CSV/JSON input *from the driver's parquet tables* with
  * a distributed Spark write, reads it back through the datasource under
  * test, and outputs the extracted values — which DuckDB then reproduces
  * from the plain parquet columns. Extraction correctness is thereby
  * hash-verified end-to-end without DuckDB ever parsing XML.
  *
  * Scale: fixture writes/reads are `df.write`/`spark.read` — fully
  * distributed, no driver collect. At 100 TB the same plans apply
  * unchanged; only `src_xml_permissive`'s 10-record malformed fixture and
  * the XSD literal are driver-side (schema work is driver-side by nature).
  */
object Xml {
  private type Q = (SparkSession, String) => DataFrame

  private def fresh(tag: String, sfDir: String): String =
    graft.Scratch.fresh(tag, sfDir)

  // ======================================================================
  // §2.1 sources
  // ======================================================================

  /** Plain parquet scan: 2-column projection + aggregate. Catalyst prunes
    * the scan to exactly l_orderkey/l_quantity (ReadSchema) — the other 9
    * columns never leave storage, which at 100 TB is the difference between
    * reading ~18% of the table and all of it.
    */
  val srcParquetScan: Q = (s, d) =>
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))

  /** XML Reader semantics: chunk files into records by row tag. We write
    * nation as XML (one attribute + two elements per record, exercising the
    * `_`-prefixed attribute convention), then read it back with
    * rowTag-chunked parallel input. One huge file splits at tag boundaries
    * across tasks — the same property the reference's StAX chunker provides.
    */
  val srcXmlRead: Q = (s, d) => {
    val dir = fresh("src_xml_read", d)
    Tables.nation(s, d)
      .select(
        col("n_nationkey").as("_key"),
        col("n_name").as("name"),
        col("n_regionkey").as("regionkey"))
      .write.mode("overwrite")
      .option("rowTag", "nation").option("rootTag", "nations")
      .format("xml").save(dir)
    s.read.option("rowTag", "nation").format("xml").load(dir)
      .select(
        col("_key").as("n_nationkey"),
        col("name").as("n_name"),
        col("regionkey").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** One step of a node path: an element local name plus an optional
    * `[@attr='value']` attribute predicate (single or double quotes) —
    * the XPath subset a split-time reader can evaluate from the start
    * tag alone (no lookahead into children, so streaming capture stays
    * single-pass). Richer predicates (positions, child text) remain
    * post-parse territory via fn_xml_parse's full extraction.
    */
  private[graft] final case class PathStep(name: String, nsUri: Option[String],
                                           pred: Option[(String, String)])

  private val StepRe =
    """^([^\[\]@]+)(?:\[@([A-Za-z_][\w.:-]*)=(?:'([^']*)'|"([^"]*)")\])?$""".r

  /** Parse a node path. A step may carry a namespace PREFIX
    * (`/catalog/ns:book`) resolved against `ns` (prefix → URI) at parse
    * time: matching is then on (local name, resolved URI) — never on the
    * raw prefix, so a document binding a DIFFERENT prefix to the same URI
    * still matches, and an identical prefix bound to a decoy URI doesn't
    * (XML-namespace semantics). An unprefixed step keeps the historical
    * behavior of matching the local name in any namespace.
    */
  private[graft] def parseNodePath(nodePath: String,
      ns: Map[String, String] = Map.empty): Seq[PathStep] = {
    val steps = nodePath.split("/").filter(_.nonEmpty).toSeq.map { raw =>
      def split(qname: String): (String, Option[String]) =
        qname.split(':') match {
          case Array(p, local) => (local, Some(ns.getOrElse(p,
            throw new IllegalArgumentException(
              s"node-path step '$qname' uses undeclared namespace prefix '$p'"))))
          case Array(local) => (local, None)
          case _ => throw new IllegalArgumentException(
            s"malformed node-path step '$qname'")
        }
      raw match {
        case StepRe(name, null, _, _) =>
          val (local, uri) = split(name)
          PathStep(local, uri, None)
        case StepRe(name, attr, sq, dq) =>
          val (local, uri) = split(name)
          PathStep(local, uri, Some((attr, if (sq != null) sq else dq)))
        case other =>
          throw new IllegalArgumentException(
            s"unsupported node-path step '$other' (want name or name[@attr='v'])")
      }
    }
    require(steps.nonEmpty, s"empty node path: $nodePath")
    steps
  }

  /** `.xml` files of `dir` with their sizes, in name order. */
  private def listXml(dir: String): Seq[(String, Long)] = {
    val listing = Files.list(Paths.get(dir))
    try listing.toArray.map(_.toString).filter(_.endsWith(".xml")).sorted.toSeq
      .map(f => f -> Files.size(Paths.get(f)))
    finally listing.close()
  }

  /** Spark's `FilePartition.getFilePartitions` rule over `items`, kept in
    * order: a bin closes when its bytes plus the next item's size exceed
    * `target`, and each item charges its size plus
    * `spark.sql.files.openCostInBytes`. The node-path reader packs its
    * parse ranges with it, so twelve small files become as many tasks as
    * Spark's own file sources would give them, not twelve.
    */
  private[graft] def packBins[A](items: Seq[A], conf: SQLConf, target: Long)(
      size: A => Long): Seq[Seq[A]] = {
    val openCost = conf.filesOpenCostInBytes
    val bins = Seq.newBuilder[Seq[A]]
    var bin = Vector.empty[A]; var bytes = 0L
    items.foreach { it =>
      if (bin.nonEmpty && bytes + size(it) > target) { bins += bin; bin = Vector.empty; bytes = 0L }
      bytes += size(it) + openCost; bin :+= it
    }
    if (bin.nonEmpty) bins += bin
    bins.result()
  }

  // ========================================================================
  // The node-path reader: ONE byte-level scanner (`scanPath`) for every
  // file, routed by Spark's own split rule (a file is split only when it
  // is larger than the target):
  //   - a file at or below the split target is one whole-file range,
  //     scanned from offset 0 with nothing seeded and no planning pass;
  //   - a larger file is planned into ranges of ~target bytes, each
  //     beginning exactly at a record start (the chunked planner below),
  //     and each range is scanned with the ancestor stack pre-seeded: the
  //     match flags (all true — the planner proved the record's ancestors
  //     matched) and ONE namespace scope per ancestor level (declarations
  //     before the seek point that the range cannot see). Every later
  //     sibling/uncle element inside the range carries its own real tags,
  //     so predicate failures (`<shelf genre="tech">`) still suppress
  //     capture and a popped level's scope is its own, not the record's.
  // Ranges then parse IN PARALLEL, packed into tasks by `packBins`.
  // The scanner is byte-level (UTF-8; multi-byte code points never contain
  // '<') so seeks are exact, and a captured record is a BYTE SLICE of the
  // source (CDATA and the source's quoting kept). Known limits, documented:
  // UTF-8 only (other encodings go through the built-in src_xml_read
  // splitter), no DOCTYPE internal subsets, and end-tag NAMES are not
  // checked — only the balance is (end of input inside an open element,
  // or an end tag with none open, fails the read; a mismatched end tag
  // inside a record reaches `from_xml`, whose parse mode decides: the
  // typed decoder refuses such a record).
  // ========================================================================

  private val EntityRe = """&(?:(lt|gt|quot|apos|amp)|#([0-9]+)|#x([0-9a-fA-F]+));""".r
  private val NamedEntities =
    Map("lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'", "amp" -> "&")

  /** Entity decode for attribute-value predicates and namespace URIs: the
    * five predefined entities and numeric character references (`&#65;`,
    * `&#x41;`), in one pass so `&amp;#65;` stays `&#65;`. */
  private def decodeEntities(v: String): String =
    if (v.indexOf('&') < 0) v
    else EntityRe.replaceAllIn(v, m => scala.util.matching.Regex.quoteReplacement(
      if (m.group(1) != null) NamedEntities(m.group(1))
      else new String(Character.toChars(
        if (m.group(2) != null) Integer.parseInt(m.group(2))
        else Integer.parseInt(m.group(3), 16)))))

  private val AttrRe = """([A-Za-z_][\w.:-]*)\s*=\s*(?:"([^"]*)"|'([^']*)')""".r

  /** Qualified element name of a raw start/end tag string (`<ns:book k="1">`
    * → `ns:book`). */
  private def tagQName(tagStr: String): String = {
    val nameEnd = tagStr.indexWhere(c =>
      c == ' ' || c == '\t' || c == '\r' || c == '\n' || c == '/' || c == '>', 1)
    tagStr.substring(1, if (nameEnd < 0) tagStr.length else nameEnd)
  }

  /** The path-match rule for one start tag at `depth` (1-based), given the
    * parent's match flag and the tag's own namespace `scope` (its parent's
    * bindings plus its own declarations) — shared by the scanner and the
    * parallel planner's driver-side stitch so both evaluate predicates
    * identically. A namespace-qualified step resolves the tag's prefix
    * (the default namespace for an unprefixed tag) in `scope` and compares
    * URIs; an unqualified step never looks at the scope.
    */
  private def startTagOk(path: Seq[PathStep], okPrev: Boolean, depth: Int,
      tagStr: String, scope: Map[String, String]): Boolean =
    okPrev && depth <= path.size && {
      val step = path(depth - 1)
      val qname = tagQName(tagStr)
      val colon = qname.indexOf(':')
      step.name == qname.substring(colon + 1) &&
        step.nsUri.forall { uri =>
          scope.get(if (colon < 0) "" else qname.substring(0, colon))
            .exists(v => decodeEntities(v) == uri)
        } &&
        step.pred.forall { case (a, v) =>
          AttrRe.findAllMatchIn(tagStr).exists { m =>
            m.group(1) == a &&
              decodeEntities(if (m.group(2) != null) m.group(2) else m.group(3)) == v
          }
        }
    }

  /** xmlns declarations of one raw start tag (prefix → raw attribute
    * value text, "" = the default namespace). Values stay source-raw so
    * re-serialization preserves the original escaping. */
  private def nsDeclsOf(tagStr: String): Map[String, String] =
    if (!tagStr.contains("xmlns")) Map.empty
    else AttrRe.findAllMatchIn(tagStr).flatMap { m =>
      val name = m.group(1)
      val v = if (m.group(2) != null) m.group(2) else m.group(3)
      if (name == "xmlns") Some("" -> v)
      else if (name.startsWith("xmlns:")) Some(name.substring(6) -> v)
      else None
    }.toMap

  /** Rewrite a record start tag to carry ancestor bindings it doesn't
    * redeclare (round-9 verdict #4), so a snippet's prefixes stay bound. */
  private def injectNs(tagStr: String, missing: Map[String, String]): String = {
    val cut = if (tagStr.endsWith("/>")) tagStr.length - 2 else tagStr.length - 1
    val decls = missing.toSeq.sorted.map { case (p, u) =>
      // nsDeclsOf also captures single-quoted values, which may legally
      // contain a double quote — escape before re-wrapping in double quotes
      val v = u.replace("\"", "&quot;")
      if (p.isEmpty) s""" xmlns="$v"""" else s""" xmlns:$p="$v""""
    }.mkString
    tagStr.substring(0, cut) + decls + tagStr.substring(cut)
  }

  /** Unsynchronized growable byte buffer for the scanner's tag and record
    * bytes (a `ByteArrayOutputStream` locks on every write). */
  private final class ByteBuf {
    var arr = new Array[Byte](256)
    var len = 0
    def reset(): Unit = len = 0
    def add(b: Int): Unit = {
      if (len == arr.length) grow(1)
      arr(len) = b.toByte; len += 1
    }
    def add(src: Array[Byte], off: Int, n: Int): Unit = {
      if (len + n > arr.length) grow(n)
      System.arraycopy(src, off, arr, len, n); len += n
    }
    private def grow(n: Int): Unit =
      arr = java.util.Arrays.copyOf(arr, math.max(arr.length * 2, len + n))
    def utf8: String = new String(arr, 0, len, java.nio.charset.StandardCharsets.UTF_8)
  }

  /** A token terminator with its KMP failure table: the search is the exact
    * substring automaton ("]]>" is found in "]]]>") at one compare per
    * byte, with nothing allocated. */
  private final class Terminator(t: String) {
    val bytes: Array[Byte] = t.getBytes("US-ASCII")
    val fail: Array[Int] = {
      val f = new Array[Int](bytes.length); var k = 0
      for (i <- 1 until bytes.length) {
        while (k > 0 && bytes(i) != bytes(k)) k = f(k - 1)
        if (bytes(i) == bytes(k)) k += 1
        f(i) = k
      }
      f
    }
  }
  private val CommentEnd = new Terminator("->") // searched from after "<!-"
  private val CdataEnd = new Terminator("]]>")
  private val PiEnd = new Terminator("?>")
  private val TagEnd = new Terminator(">") // end tags, DOCTYPE (no internal subsets)

  /** One byte-level path-aware scan of `file` from byte `start`. `seedOk`
    * pre-seeds the ancestor match flags and `seedNs` each seeded level's
    * namespace scope, outermost first (ancestors are before the seek
    * point, so the scan cannot see their declarations): a planned range
    * passes all-true flags and its first record's ancestor scopes, the
    * parallel planner's pass B the exact flags and scopes of the stitched
    * boundary stack, and a whole-file scan nothing. `stopAt >= 0` ends the
    * scan at that offset once outside a record; `onRecordStart` fires at
    * every capture trigger with the record's ancestor scopes, outermost
    * first (a live view, valid only during the call); with
    * `captureBytes`, each record's source bytes are passed to `onRecord`
    * (a buffer valid only during the call) with the length of its start
    * tag and the ancestor bindings the record doesn't declare itself,
    * which `snippet` re-declares on the start tag.
    *
    * Reaching end of input inside an open element, or an end tag with no
    * element open, fails the scan with an IOException naming the file and
    * byte offset: the document is truncated or has more end tags than
    * start tags.
    *
    * The per-byte work is a compare in the read buffer: a run of text up
    * to the next `<`, a comment/CDATA/PI/end-tag/DOCTYPE body up to its
    * terminator and a start tag up to its unquoted `>` are each scanned in
    * place and, inside a record, copied into the record buffer in one
    * block. Only start tags at depth ≤ the path length are decoded to a
    * string and run through `nsDeclsOf` and `startTagOk`. A deeper start
    * tag is skipped: it can neither match a step nor start a capture
    * (records start at exactly the path's depth), and no capture or match
    * reads its namespace scope (a record re-declares its PARENT's scope),
    * so it pushes `ok = false` and its parent's scope unread.
    */
  private def scanPath(file: String, start: Long, path: Seq[PathStep],
      seedOk: Seq[Boolean], seedNs: Seq[Map[String, String]], captureBytes: Boolean,
      stopAt: Long, onRecordStart: (Long, collection.Seq[Map[String, String]]) => Unit,
      onRecord: (ByteBuf, Int, Map[String, String]) => Unit): Unit = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(file))
    ch.position(start)
    val in = java.nio.channels.Channels.newInputStream(ch)
    val buf = new Array[Byte](1 << 16)
    var bufLen = 0; var bufI = 0; var pos = start
    // whether unread bytes remain, refilling the drained buffer
    def fill(): Boolean =
      bufI < bufLen || { bufLen = in.read(buf); bufI = 0; bufLen > 0 }
    def next(): Int =
      if (!fill()) -1 else { val b = buf(bufI); bufI += 1; pos += 1; b & 0xFF }
    // consume the next n buffered bytes, copying them to `to` unless null
    def take(n: Int, to: ByteBuf): Unit = {
      if (to != null) to.add(buf, bufI, n)
      bufI += n; pos += n
    }
    val recordDepth = path.size
    val okStack = scala.collection.mutable.ArrayBuffer.from(seedOk)
    // in-scope bindings per open depth, aligned with okStack
    val nsStack = scala.collection.mutable.ArrayBuffer.from(seedNs)
    def parentScope = if (nsStack.isEmpty) Map.empty[String, String] else nsStack.last
    def malformed(off: Long, what: String): Nothing =
      throw new java.io.IOException(s"malformed XML in $file at byte $off: $what")
    // end of input: every element opened or seeded must have closed
    def atEnd(): Unit =
      if (okStack.nonEmpty)
        malformed(pos, s"end of input inside ${okStack.size} open element(s)")
    val cap = new ByteBuf
    val tag = new ByteBuf
    var capturing = false
    var captureDepth = -1
    var recTagLen = 0
    var recMissing = Map.empty[String, String]

    // consume the rest of a start tag ("<" and its first byte already
    // taken), quote-aware: a '>' inside a quoted value does not end it.
    // Returns whether it self-closes.
    def readStartRest(to: ByteBuf): Boolean = {
      var q = 0 // 0 = outside quotes, else the quote char
      var prev = 0
      while (fill()) {
        val n = bufLen; var i = bufI; var end = false
        while (!end && i < n) {
          val b = buf(i) & 0xFF
          if (q == 0 && (b == '"' || b == '\'')) q = b
          else if (q != 0 && b == q) q = 0
          else if (q == 0 && b == '>') end = true
          if (b != '>') prev = b
          i += 1
        }
        take(i - bufI, to)
        if (end) return prev == '/'
      }
      false
    }
    // consume through the first occurrence of `t`, matched from here on
    def readUntil(t: Terminator, to: ByteBuf): Unit = {
      val tb = t.bytes; val fail = t.fail; var m = 0
      while (m < tb.length && fill()) {
        val n = bufLen; var i = bufI
        while (m < tb.length && i < n) {
          val b = buf(i)
          while (m > 0 && b != tb(m)) m = fail(m - 1)
          if (b == tb(m)) m += 1
          i += 1
        }
        take(i - bufI, to)
      }
    }

    try {
      while (true) {
        if (!capturing && stopAt >= 0 && pos >= stopAt) return
        if (!fill()) { atEnd(); return }
        val n = bufLen; var i = bufI
        while (i < n && buf(i) != '<') i += 1
        if (i > bufI) take(i - bufI, if (capturing) cap else null) // text run
        else {
          val ltOff = pos
          take(1, null)
          val b1 = next(); if (b1 < 0) { atEnd(); return }
          val to = if (capturing) cap else null
          b1 match {
            case '!' =>
              val b2 = next(); if (b2 < 0) { atEnd(); return }
              if (to != null) { to.add('<'); to.add('!'); to.add(b2) }
              readUntil(if (b2 == '-') CommentEnd else if (b2 == '[') CdataEnd else TagEnd, to)
            case '?' =>
              if (to != null) { to.add('<'); to.add('?') }
              readUntil(PiEnd, to)
            case '/' =>
              if (okStack.isEmpty) malformed(ltOff, "end tag with no open element")
              if (to != null) { to.add('<'); to.add('/') }
              readUntil(TagEnd, to)
              if (capturing && okStack.size == captureDepth) {
                onRecord(cap, recTagLen, recMissing); cap.reset()
                capturing = false; captureDepth = -1
              }
              okStack.remove(okStack.size - 1)
              nsStack.remove(nsStack.size - 1)
            case _ if okStack.size >= recordDepth =>
              // deeper than a record start: no name, predicate or xmlns work
              if (to != null) { to.add('<'); to.add(b1) }
              if (!readStartRest(to)) {
                okStack += false
                nsStack += parentScope
              }
            case _ =>
              tag.reset(); tag.add('<'); tag.add(b1)
              val selfClosing = readStartRest(tag)
              val tagStr = tag.utf8
              val depth = okStack.size + 1
              val parentNs = parentScope
              val declared = nsDeclsOf(tagStr)
              val scope = if (declared.isEmpty) parentNs else parentNs ++ declared
              val ok = startTagOk(path, depth == 1 || okStack(depth - 2), depth, tagStr, scope)
              val startsRecord = captureDepth < 0 && depth == recordDepth && ok
              if (startsRecord) onRecordStart(ltOff, nsStack)
              okStack += ok
              nsStack += scope
              if (startsRecord) {
                if (captureBytes) {
                  capturing = true; cap.reset()
                  recMissing = parentNs.filterNot { case (p, _) => declared.contains(p) }
                  recTagLen = tag.len
                  cap.add(tag.arr, 0, tag.len)
                }
                captureDepth = depth // suppresses nested same-path re-trigger
              } else if (capturing) cap.add(tag.arr, 0, tag.len)
              if (selfClosing) {
                if (capturing && okStack.size == captureDepth) {
                  onRecord(cap, recTagLen, recMissing); cap.reset()
                  capturing = false; captureDepth = -1
                }
                if (!captureBytes && okStack.size == captureDepth) captureDepth = -1
                okStack.remove(okStack.size - 1)
                nsStack.remove(nsStack.size - 1)
              }
          }
          // planning scans' capture-end bookkeeping for non-self-closing
          // records is on the end-tag branch; mirror it when not
          // materializing bytes
          if (!captureBytes && captureDepth > 0 && okStack.size < captureDepth)
            captureDepth = -1
        }
      }
    } finally ch.close()
  }

  /** A parse range of one file: bytes [start, end) (`end` = Long.MaxValue
    * runs to end of file) and `ns`, the namespace scope of each ancestor
    * level of the record at `start`, outermost first. A whole-file range
    * starts at 0 and seeds nothing. */
  private[graft] final case class XmlSplitRange(file: String, start: Long, end: Long,
      ns: Seq[Map[String, String]] = Nil)

  /** Ranges from a file's ordered record starts (offset, ancestor scopes):
    * each runs to the next start, the last to end of file. */
  private def rangesOf(file: String,
      starts: Seq[(Long, Seq[Map[String, String]])]): Seq[XmlSplitRange] =
    starts.lazyZip(starts.drop(1).map(_._1) :+ Long.MaxValue).map {
      case ((a, ns), b) => XmlSplitRange(file, a, b, ns)
    }

  /** Sequential planning of one file — a skeleton scan collecting record
    * starts (with each start's ancestor scopes, which a range cannot see
    * past its seek point) greedily every ≥ `targetSplitBytes`, so each range
    * begins at a record start. The chunked planner's fallback for a tag
    * longer than `MaxSpecTag`. */
  private def planSplits(file: String, path: Seq[PathStep],
      targetSplitBytes: Long): Seq[XmlSplitRange] = {
    val starts = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Map[String, String]])]
    scanPath(file, 0L, path, seedOk = Nil, seedNs = Nil, captureBytes = false, stopAt = -1L,
      onRecordStart = (off, ns) =>
        if (starts.isEmpty || off - starts.last._1 >= targetSplitBytes)
          starts += ((off, ns.toVector)),
      onRecord = (_, _, _) => ())
    rangesOf(file, starts.toSeq)
  }

  // ========================================================================
  // PARALLEL planning of a file larger than the split target (round-7:
  // `planSplits` above is one O(file) scan on one thread). The
  // speculative chunked-scan idea from the parallel-CSV/JSON parsing
  // literature (ParPaRaw, Mison), re-derived for this scanner's exact
  // lexical rules:
  //
  //   pass A (parallel, one task per ~target-bytes chunk): a '<' is
  //     lexically ambiguous at an arbitrary boundary — the chunk may open
  //     inside a comment/CDATA/PI/DOCTYPE (each with the terminator
  //     possibly straddling the boundary by up to |terminator|-1 bytes),
  //     inside a start tag (in any quote state), inside an end tag, or in
  //     plain content. That ambiguity is a CLOSED set, so each chunk
  //     precomputes the resolution of every member: terminator-end
  //     offsets for each straddle offset, quote-aware tag-skip results,
  //     and a structural summary (pops below entry + tags opened and left
  //     open, with their raw bytes so attribute predicates evaluate
  //     exactly) from every distinct candidate resume offset — all
  //     metadata-sized (stack-depth-bounded), memoized within the chunk.
  //   stitch (driver, sequential over per-chunk SUMMARIES only): fold
  //     left to right, resolving each chunk's entry context from its
  //     predecessor's exit, maintaining the exact open-ancestor-tag stack
  //     at every boundary. O(#chunks × depth) — microseconds where
  //     `planSplits` is O(file bytes).
  //   pass B (parallel): each chunk re-scans from its resolved resume
  //     offset with the TRUE seeded ancestor flags and per-level namespace
  //     scopes and early-exits at its first record start (typically a
  //     record-length of bytes). Those starts are exact record starts —
  //     the range boundaries; output is record-identical to a whole-file
  //     scan (Round7Spec pins it on hazard-dense fixtures).
  //
  // A file at or below the split target is never planned: it is one
  // whole-file range. `planSplits` remains only as this planner's
  // fallback for a tag longer than `MaxSpecTag`.
  // ========================================================================

  /** Lexical exit of a chunk scan. `kind`: "content", a pending token
    * ("comment"/"cdata"/"pi"/"bang" — body not yet terminated;
    * "tag"/"tag_sq"/"tag_dq"/"endtag" — inside a tag, quote state in the
    * kind), or "partial" (chunk ended 1-2 bytes into an unclassified
    * `<...`). `data` carries pending tag/partial bytes (ISO-8859-1, byte-
    * faithful — a UTF-8 char may straddle the boundary); `bodySeen` = body
    * bytes consumed of a pending comment/cdata/pi, capped at
    * |terminator|-1 (all a straddle can need).
    */
  private final case class LexExit(kind: String, data: String, bodySeen: Int)

  /** Resolution of a tag-kind entry context: complete (`resume` ≥ 0,
    * `bytes` = the in-chunk remainder) or still pending at chunk end
    * (`resume` = -1, `pendKind` = the exit quote state). */
  private final case class TagSkip(resume: Long, bytes: String, pendKind: String)

  /** Pass-A result for one chunk; all offsets absolute file positions. */
  private final case class ChunkScan(
      termEnds: Map[(String, Int), Long],
      tagSkips: Map[String, TagSkip],
      contentScans: Map[Long, (Int, List[String], LexExit)])

  private val Terms =
    Map("comment" -> "->", "cdata" -> "]]>", "pi" -> "?>", "bang" -> ">")

  /** Bound on a single start/end tag (incl. attributes) the CHUNKED
    * planner will reconstruct across a boundary. Without it, a WRONG
    * speculation (e.g. "this chunk starts inside a quoted attribute" in a
    * chunk whose quote parity never closes it) captures the entire chunk
    * as its "tag remainder" — pass-A summaries must be metadata-sized at
    * any chunk size (the 1 GB probe caught exactly this: ~50% of chunks
    * shipped 128 MiB strings and the driver collect blew past
    * maxResultSize). A speculation exceeding the bound is marked
    * `overflow`; ONLY if the true boundary context selects it — i.e. a
    * real tag longer than this — does `planSplitsParallel` fall back to
    * the sequential planner for that file, which has no such bound. */
  private val MaxSpecTag = 1 << 16

  /** Pass A: speculative structural scan of one chunk (runs on executors).
    * Mirrors scanPath's lexical rules exactly — comment/bang terminators
    * searched from after the 3-byte classification prefix, PI from after
    * `<?`, end tags to a bare `>`, start tags quote-aware.
    */
  private def scanChunk(file: String, start: Long, end: Long): ChunkScan = {
    val margin = math.min(2L, start).toInt
    val arr = new Array[Byte]((end - start).toInt + margin)
    val ch = java.nio.channels.FileChannel.open(Paths.get(file))
    val n = try {
      ch.position(start - margin)
      val bb = java.nio.ByteBuffer.wrap(arr)
      var done = false
      while (!done && bb.hasRemaining) if (ch.read(bb) < 0) done = true
      bb.position()
    } finally ch.close()
    val base = start - margin
    val endIdx = math.min((end - base).toInt, n) // this chunk owns '<' at idx < endIdx
    val m0 = margin

    def findTermEnd(t: String, from: Int): Int = { // idx AFTER terminator, -1 if none
      val tb = t.getBytes
      var i = math.max(from, 0)
      while (i + tb.length <= n) {
        var j = 0
        while (j < tb.length && arr(i + j) == tb(j)) j += 1
        if (j == tb.length) return i + tb.length
        i += 1
      }
      -1
    }
    // quote-aware start-tag scan; Right(idxAfterGt), Left(pending kind),
    // or Left("overflow") past the MaxSpecTag bound (see its scaladoc)
    def tagScan(from: Int, q0: Int): Either[String, Int] = {
      var q = q0; var i = from
      while (i < n) {
        if (i - from > MaxSpecTag) return Left("overflow")
        val b = arr(i) & 0xFF
        if (q == 0 && (b == '"' || b == '\'')) q = b
        else if (q != 0 && b == q) q = 0
        else if (q == 0 && b == '>') return Right(i + 1)
        i += 1
      }
      Left(if (q == '\'') "tag_sq" else if (q == '"') "tag_dq" else "tag")
    }
    def raw(i0: Int, i1: Int) = new String(arr, i0, i1 - i0, "ISO-8859-1")

    /** One sweep serving resume `i0` AND every `wanted` resume the sweep
      * reaches in plain-content state, via checkpoint deltas: at a wanted
      * offset r hit in content state, the remaining walk is byte-identical
      * for the r-resume, so its result is reconstructed from (pops,
      * |opens|) at r plus the min |opens| since — one chunk pass serves
      * all converging resumes instead of one full pass per resume (the
      * 1 GB probe measured the per-resume passes as the planner's CPU
      * multiplier). Wanted offsets the sweep jumps over inside a token
      * are genuinely ambiguous and return in `leftover` for their own
      * (recursively shared) walk. */
    def walkFrom(i0: Int, wanted: List[Int])
        : (Map[Int, (Int, List[String], LexExit)], List[Int]) = {
      var i = i0; var pops = 0
      val opens = scala.collection.mutable.ArrayBuffer.empty[String]
      // fired checkpoints: (resume, popsAt, opensAt, minOpensSince)
      val cps = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
      var queue = wanted.sorted
      val leftover = scala.collection.mutable.ListBuffer.empty[Int]
      var exit: LexExit = null
      def closeOne(): Unit = {
        if (opens.nonEmpty) { opens.remove(opens.size - 1); () } else pops += 1
        var c = 0
        while (c < cps.size) {
          if (opens.size < cps(c)._4)
            cps(c) = (cps(c)._1, cps(c)._2, cps(c)._3, opens.size)
          c += 1
        }
      }
      while (exit == null) {
        while (queue.nonEmpty && queue.head < i) {
          leftover += queue.head; queue = queue.tail
        }
        while (queue.nonEmpty && queue.head == i) {
          cps += ((i, pops, opens.size, opens.size)); queue = queue.tail
        }
        if (i >= endIdx) exit = LexExit("content", "", 0)
        else if ((arr(i) & 0xFF) != '<') i += 1
        else {
          val tok = i
          if (tok + 1 >= n) exit = LexExit("partial", raw(tok, n), 0)
          else (arr(tok + 1) & 0xFF) match {
            case '!' =>
              if (tok + 2 >= n) exit = LexExit("partial", raw(tok, n), 0)
              else {
                val b2 = arr(tok + 2) & 0xFF
                val kind =
                  if (b2 == '-') "comment" else if (b2 == '[') "cdata" else "bang"
                val t = Terms(kind)
                val j = findTermEnd(t, tok + 3)
                if (j < 0) exit = LexExit(kind, "", math.min(n - tok - 3, t.length - 1))
                else i = j
              }
            case '?' =>
              val j = findTermEnd("?>", tok + 2)
              if (j < 0) exit = LexExit("pi", "", math.min(n - tok - 2, 1))
              else i = j
            case '/' =>
              val j = findTermEnd(">", tok + 2)
              if (j < 0) exit =
                if (n - tok > MaxSpecTag) LexExit("overflow", "", 0)
                else LexExit("endtag", raw(tok, n), 0)
              else { closeOne(); i = j }
            case _ =>
              tagScan(tok + 2, 0) match {
                case Right(j) if j - tok <= MaxSpecTag =>
                  val tagStr = new String(arr, tok, j - tok, "UTF-8")
                  if (!tagStr.endsWith("/>")) opens += tagStr
                  i = j
                case Right(_) => exit = LexExit("overflow", "", 0)
                case Left(k)  => exit = LexExit(k,
                  if (k == "overflow") "" else raw(tok, n), 0)
              }
          }
        }
      }
      leftover ++= queue
      val oE = opens.toList
      val fired = cps.map { case (r, p, o, m) =>
        r -> ((pops - p) + (o - m), oE.drop(m), exit)
      }.toMap
      (fired + (i0 -> ((pops, oE, exit))), leftover.toList)
    }

    def walkAll(rs: List[Int]): Map[Int, (Int, List[String], LexExit)] =
      if (rs.isEmpty) Map.empty
      else {
        val r0 = rs.min
        val (res, leftover) = walkFrom(r0, rs.filterNot(_ == r0))
        res ++ walkAll(leftover.distinct.filterNot(res.contains))
      }

    // One scan per terminator from the smallest start, reused for the
    // other boundary-straddle deltas (re-scan only when the found
    // occurrence begins before that delta's start — a few-byte window):
    // an absent terminator (e.g. no PI in the file) costs ONE chunk pass,
    // not one per delta.
    val termEnds = (for ((_, t) <- Terms.toSeq) yield {
      val ds = (-(t.length - 1) to 2).filter(d => m0 + d >= 0)
      if (ds.isEmpty) Seq.empty
      else {
        val f0 = findTermEnd(t, m0 + ds.min)
        ds.map { d =>
          val s = m0 + d
          val j =
            if (f0 < 0) -1
            else if (s <= f0 - t.length) f0
            else findTermEnd(t, s)
          (t, d) -> (if (j < 0) -1L else base + j)
        }
      }
    }).flatten.toMap
    val tagSkips = (Seq("tag" -> 0, "tag_sq" -> '\''.toInt, "tag_dq" -> '"'.toInt)
      .map { case (k, q) =>
        k -> (tagScan(m0, q) match {
          case Right(j) if j - m0 <= MaxSpecTag => TagSkip(base + j, raw(m0, j), "")
          case Right(_)              => TagSkip(-1L, "", "overflow")
          case Left("overflow")      => TagSkip(-1L, "", "overflow")
          case Left(pk)              => TagSkip(-1L, raw(m0, n), pk)
        })
      } :+ ("endtag" -> {
        val j = findTermEnd(">", m0)
        if (j < 0)
          if (n - m0 > MaxSpecTag) TagSkip(-1L, "", "overflow")
          else TagSkip(-1L, raw(m0, n), "endtag")
        else if (j - m0 > MaxSpecTag) TagSkip(-1L, "", "overflow")
        else TagSkip(base + j, raw(m0, j), "")
      })).toMap
    val resumes = (Seq(base + m0) ++ termEnds.values.filter(_ >= 0) ++
      tagSkips.values.map(_.resume).filter(_ >= 0)).distinct
    val walked = walkAll(resumes.map(r => (r - base).toInt).toList)
    ChunkScan(termEnds, tagSkips,
      resumes.map(r => r -> walked((r - base).toInt)).toMap)
  }

  private def peekBytes(file: String, off: Long, len: Int): Array[Byte] = {
    val ch = java.nio.channels.FileChannel.open(Paths.get(file))
    try {
      ch.position(off)
      val bb = java.nio.ByteBuffer.allocate(len)
      var done = false
      while (!done && bb.hasRemaining) if (ch.read(bb) < 0) done = true
      java.util.Arrays.copyOf(bb.array(), bb.position())
    } finally ch.close()
  }

  /** Match flags for a reconstructed boundary stack and each level's
    * namespace scope — the same rule scanPath applies tag by tag. */
  private def okBooleans(path: Seq[PathStep], stack: Seq[String],
      scopes: Seq[Map[String, String]]): Seq[Boolean] = {
    val oks = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    stack.lazyZip(scopes).foreach { (tagStr, scope) =>
      val depth = oks.size + 1
      oks += startTagOk(path, depth == 1 || oks(depth - 2), depth, tagStr, scope)
    }
    oks.toSeq
  }

  private final case class PassB(resume: Long, stopAt: Long, seedOk: Seq[Boolean],
      seedNs: Seq[Map[String, String]])

  /** Driver-side stitch: fold per-chunk summaries into the exact boundary
    * contexts. Returns one pass-B task per chunk whose bytes are reachable
    * (a pending token can swallow a whole chunk — a giant comment/CDATA),
    * or None when a tag longer than `MaxSpecTag` straddles a boundary.
    */
  private def stitch(file: String, path: Seq[PathStep],
      chunks: Seq[(Long, Long)], scans: Seq[ChunkScan]): Option[Seq[PassB]] = {
    var kind = "content"; var pend = ""; var bodySeen = 0
    val stack = scala.collection.mutable.ListBuffer.empty[String]
    val out = scala.collection.mutable.ListBuffer.empty[PassB]
    def utf8(iso: String) = new String(iso.getBytes("ISO-8859-1"), "UTF-8")
    def pop(): Unit = if (stack.nonEmpty) stack.remove(stack.size - 1): Unit
    def finishTag(sc: ChunkScan, k: String): Long = {
      val ts = sc.tagSkips(k)
      if (ts.resume < 0) { kind = ts.pendKind; pend = pend + ts.bytes; -1L }
      else {
        val full = utf8(pend + ts.bytes)
        if (k == "endtag") pop()
        else if (!full.endsWith("/>")) stack += full
        pend = ""
        ts.resume
      }
    }
    def findPending(sc: ChunkScan, k: String, delta: Int): Long = {
      val t = Terms(k)
      val j = sc.termEnds.getOrElse((t, delta), -1L)
      if (j < 0) { kind = k; pend = ""; bodySeen = t.length - 1 }
      j
    }
    var overflow = false
    for (((cs, ce), sc) <- chunks.zip(scans) if !overflow) {
      val resume: Long = kind match {
        case "content" => cs
        case "overflow" => overflow = true; -1L
        case k @ ("comment" | "cdata" | "pi" | "bang") => findPending(sc, k, -bodySeen)
        case k @ ("tag" | "tag_sq" | "tag_dq" | "endtag") => finishTag(sc, k)
        case "partial" =>
          // classify `pend` ("<" or "<!") + a few peeked file bytes; the
          // pending search starts after the classification prefix, whose
          // length inside THIS chunk is prefixLen - pend.length
          val bytes = pend.getBytes("ISO-8859-1") ++ peekBytes(file, cs, 4)
          val b1 = if (bytes.length > 1) bytes(1) & 0xFF else -1
          b1 match {
            case -1  => -1L // file ends mid-'<' — nothing left to scan
            case '!' =>
              val b2 = if (bytes.length > 2) bytes(2) & 0xFF else -1
              val k2 = if (b2 == '-') "comment" else if (b2 == '[') "cdata" else "bang"
              findPending(sc, k2, 3 - pend.length)
            case '?' => findPending(sc, "pi", 2 - pend.length)
            case '/' => finishTag(sc, "endtag")
            case _   => finishTag(sc, "tag")
          }
      }
      if (resume >= 0) {
        // one scope per open level: its parent's plus its own declarations
        val scopes = stack.toSeq.scanLeft(Map.empty[String, String])(_ ++ nsDeclsOf(_)).tail
        out += PassB(resume, ce, okBooleans(path, stack.toSeq, scopes), scopes)
        val (pops, opens, exit) = sc.contentScans(resume)
        (1 to pops).foreach(_ => pop())
        opens.foreach(stack += _)
        kind = exit.kind; pend = exit.data; bodySeen = exit.bodySeen
      }
    }
    if (overflow) None else Some(out.toList)
  }

  /** Pass B: first record start in [resume, stopAt) with its ancestor
    * scopes, early-exit. */
  private def firstRecordStart(file: String, p: PassB,
      path: Seq[PathStep]): Option[(Long, Seq[Map[String, String]])] = {
    final class Found(val off: Long, val ns: Seq[Map[String, String]])
      extends RuntimeException(null, null, false, false)
    try {
      scanPath(file, p.resume, path, p.seedOk, p.seedNs, captureBytes = false,
        stopAt = p.stopAt,
        onRecordStart = (off, ns) => throw new Found(off, ns.toVector),
        onRecord = (_, _, _) => ())
      None
    } catch { case f: Found => Some((f.off, f.ns)) }
  }

  /** Observability for the Round7Spec pin: planning chunks scanned by the
    * most recent parallel plan. */
  private[graft] val lastPlanChunks = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Parallel planning of ONE big file (see section comment above).
    * Record output is identical to `planSplits`; boundaries land on true
    * record starts at ~chunk spacing. A tag longer than `MaxSpecTag`
    * across a chunk boundary sends the file to `planSplits` instead.
    */
  private[graft] def planSplitsParallel(s: SparkSession, file: String,
      path: Seq[PathStep], targetSplitBytes: Long): Seq[XmlSplitRange] = {
    val len = Files.size(Paths.get(file))
    val chunks = (0L until len by targetSplitBytes)
      .map(o => (o, math.min(o + targetSplitBytes, len)))
    val scans = s.sparkContext.parallelize(chunks, chunks.size)
      .map { case (a, b) => scanChunk(file, a, b) }
      .collect().toSeq
    lastPlanChunks.set(chunks.size)
    stitch(file, path, chunks, scans) match {
      case None => planSplits(file, path, targetSplitBytes)
      case Some(passB) =>
        val starts = s.sparkContext
          .parallelize(passB, math.max(passB.size, 1))
          .flatMap(p => firstRecordStart(file, p, path))
          .collect().sortBy(_._1).toSeq
        rangesOf(file, starts)
    }
  }

  /** Split target for a listing of files of `sizes` bytes: Spark's own
    * `FilePartition.maxSplitBytes` rule, so the node-path reader follows the
    * sizing confs of every other file source and has no knob of its own.
    * Each file is charged `spark.sql.files.openCostInBytes`; the total is
    * spread over `spark.sql.files.minPartitionNum`, else
    * `spark.sql.leafNodeDefaultParallelism`, else `defaultParallelism`;
    * the result is floored at the open cost and capped at
    * `spark.sql.files.maxPartitionBytes`. One 32.25 MiB file on 4 cores
    * at the default confs gets 9.06 MiB.
    */
  private[graft] def splitTargetBytes(conf: SQLConf, defaultParallelism: Int,
      sizes: Seq[Long]): Long = {
    val openCost = conf.filesOpenCostInBytes
    val slots = conf.filesMinPartitionNum.getOrElse(
      conf.getConf(SQLConf.LEAF_NODE_DEFAULT_PARALLELISM).getOrElse(defaultParallelism))
    math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, sizes.map(_ + openCost).sum / slots))
  }

  /** Path-aware XML record splitting — the reference XML Reader's node
    * path is an element PATH (`/catalog/book`), not a tag name: a document
    * with the same tag at two depths must split only at the declared path.
    * Spark's `rowTag` option matches the tag anywhere, so this reader keeps
    * an ancestor stack in one byte-level scan (`scanPath`) and captures
    * exactly the subtrees whose full path equals the node path, each as a
    * byte slice of the source. The frame has one string column, `xml`,
    * holding each record's snippet. A `from_xml` directly over it whose
    * schema and options `XmlDecode` covers is swapped by `XmlDecodeRule`
    * (registered here in the session's extra optimizations) for a decode
    * of each record's bytes straight into that schema's rows; a record the
    * decoder refuses, and any other plan, goes through `from_xml` itself.
    * Nested same-name tags inside a captured record stay part of that
    * record and never re-trigger capture.
    *
    * Path steps match element LOCAL names — optionally qualified by a
    * namespace URI via a prefix resolved from the caller's bindings `ns`
    * (see parseNodePath; the document's prefix is resolved in the tag's own
    * scope, at any file size) — and each step may carry one
    * `[@attr='value']` (or double-quoted) attribute predicate, evaluated at
    * the step's own start tag — see PathStep. Captured subtrees RE-INJECT
    * ancestor namespace declarations the record element doesn't redeclare,
    * so a feed binding prefixes on the document root (the common
    * real-world shape) yields snippets whose prefixes stay bound.
    *
    * Routing follows Spark's split rule: the target is `targetSplitBytes`
    * when positive, else `splitTargetBytes` of the listing (Spark's
    * file-partition rule). A file at or below the target is one whole-file
    * range, scanned from offset 0 with no planning pass; a larger file is
    * planned into ~target-sized ranges by `planSplitsParallel`, so one huge
    * file parses in ceil(bytes/target) tasks instead of one straggler
    * (planning collects offsets only — no record materialization, no
    * shuffle). The ranges, in file (name) and offset order, are packed
    * into tasks by `packBins`: a big file's ranges keep a task each, small
    * files share tasks (12 files of ~40 KB: 4 tasks on 4 cores), and the
    * records come out in file order, then document order.
    *
    * A truncated document (end of input inside an open element) or an end
    * tag with no element open fails the read with the file and byte
    * offset; end-tag names are not checked (see the section comment).
    */
  def readXmlNodePath(s: SparkSession, dir: String, nodePath: String,
      ns: Map[String, String] = Map.empty, targetSplitBytes: Long = 0L): DataFrame = {
    val path = parseNodePath(nodePath, ns)
    val files = listXml(dir)
    val conf = s.sessionState.conf
    val target =
      if (targetSplitBytes > 0) targetSplitBytes
      else splitTargetBytes(conf, s.sparkContext.defaultParallelism, files.map(_._2))
    val ranges = files.flatMap { case (f, size) =>
      if (size <= target) Seq(XmlSplitRange(f, 0L, Long.MaxValue))
      else planSplitsParallel(s, f, path, target)
    }
    val sizes = files.toMap
    val bins = packBins(ranges, conf, target)(r => math.min(r.end, sizes(r.file)) - r.start)
    val exp = s.experimental
    if (!exp.extraOptimizations.contains(XmlDecodeRule))
      exp.extraOptimizations = exp.extraOptimizations :+ XmlDecodeRule
    GraftSqlBridge.rowFrame(s, new NodePathRDD(s.sparkContext, bins, path, decode = None),
      NodePathSchema, isStreaming = false)
  }

  private val NodePathSchema = StructType(Seq(StructField("xml", StringType)))

  /** A record's snippet as `from_xml` and the `xml` column see it: its
    * UTF-8 (invalid bytes read as U+FFFD), the start tag re-declaring the
    * ancestor bindings `missing` the record doesn't carry itself. */
  private def snippet(rec: ByteBuf, tagLen: Int, missing: Map[String, String]): UTF8String =
    if (missing.nonEmpty)
      UTF8String.fromString(injectNs(new String(rec.arr, 0, tagLen, UTF_8), missing) +
        new String(rec.arr, tagLen, rec.len - tagLen, UTF_8))
    else if (XmlDecode.validUtf8(rec.arr, 0, rec.len))
      UTF8String.fromBytes(java.util.Arrays.copyOf(rec.arr, rec.len))
    else UTF8String.fromString(rec.utf8)

  private final class NodePathPartition(val index: Int, val ranges: Seq[XmlSplitRange])
    extends Partition

  /** The node-path reader's rows: one partition per packed bin of ranges,
    * records in file order, then document order. Without `decode` a row
    * holds the record's `snippet`; with it (the twin `XmlDecodeRule` swaps
    * in under a covered `from_xml`) the record decoded into a row of the
    * spec's schema, a refused record through the matched `from_xml`. An
    * injected binding holding `&` or `<` could change what `from_xml`
    * reads, so such a record is never decoded. */
  private[graft] final class NodePathRDD(sc: SparkContext,
      @transient private val bins: Seq[Seq[XmlSplitRange]], path: Seq[PathStep],
      val decode: Option[XmlDecode.Spec]) extends RDD[InternalRow](sc, Nil) {
    override protected def getPartitions: Array[Partition] =
      bins.indices.map(i => new NodePathPartition(i, bins(i)): Partition).toArray

    override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
      val value: (ByteBuf, Int, Map[String, String]) => Any = decode match {
        case None => snippet
        case Some(spec) =>
          val d = spec.decoder()
          (rec, tagLen, missing) => {
            val row =
              if (missing.valuesIterator.exists(v => v.indexOf('&') >= 0 || v.indexOf('<') >= 0))
                null
              else d.decode(rec.arr, rec.len)
            if (row != null) row else spec.fallbackRow(snippet(rec, tagLen, missing))
          }
      }
      split.asInstanceOf[NodePathPartition].ranges.iterator.flatMap { r =>
        val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
        scanPath(r.file, r.start, path, seedOk = r.ns.map(_ => true), seedNs = r.ns,
          captureBytes = true, stopAt = r.end, onRecordStart = (_, _) => (),
          onRecord = (rec, tagLen, missing) =>
            out += new GenericInternalRow(Array[Any](value(rec, tagLen, missing))))
        out.iterator
      }
    }

    /** This reader's twin that decodes each record with `spec`. */
    def decoding(spec: XmlDecode.Spec): NodePathRDD =
      new NodePathRDD(sparkContext, bins, path, Some(spec))
  }

  /** Node-path splitting under test: catalog files holding `<book>` at two
    * depths — record books at `/catalog/book`, decoy books inside
    * `/catalog/review/book` (shifted keys), and a nested `<book>` INSIDE a
    * record's `<related>` element (shifted further). Only the
    * `/catalog/book` subtrees may surface as records — any decoy leaking
    * in breaks the hash against the plain nation oracle.
    */
  val srcXmlNodePath: Q = (s, d) => {
    val dir = fresh("src_xml_nodepath", d)
    // Fixture: 3 files over the 25 nation rows (driver-side build like
    // src_xml_permissive — the distributed surface under test is the read).
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect()
    rows.groupBy(r => r.getLong(0) % 3).foreach { case (fid, rs) =>
      val body = rs.map { r =>
        val (k, n, g) = (r.getLong(0), r.getString(1), r.getLong(2))
        s"""  <book key="$k"><name>$n</name><region>$g</region>""" +
          s"""<related><book key="${k + 2000}"><name>REL</name><region>9</region></book></related></book>
             |  <review stars="5"><book key="${k + 1000}"><name>DECOY</name><region>8</region></book></review>""".stripMargin
      }.mkString("\n")
      Files.write(Paths.get(dir, s"cat_$fid.xml"),
        s"<catalog>\n$body\n</catalog>".getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("_key", LongType),
      StructField("name", StringType),
      StructField("region", LongType)))
    readXmlNodePath(s, dir, "/catalog/book")
      .withColumn("p", from_xml(col("xml"), schema))
      .select(
        col("p._key").as("n_nationkey"),
        col("p.name").as("n_name"),
        col("p.region").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** Namespace-aware node paths — `/catalog/ns:book` with the caller
    * binding `ns → urn:graft:books`: matching is on (local name, resolved
    * namespace URI), never the raw prefix. The fixture exercises both
    * directions prefix-matching would get wrong: two DIFFERENT document
    * prefixes (`a:`, `b:`) bound to the target URI must both match, and
    * the SAME document prefix (`a:`) bound to a decoy URI must not.
    * Namespaces are declared on the record elements (the documented
    * fidelity contract for captured snippets).
    */
  val srcXmlNsPath: Q = (s, d) => {
    val dir = fresh("src_xml_ns_path", d)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect()
    rows.groupBy(r => r.getLong(0) % 2).foreach { case (fid, rs) =>
      val body = rs.map { r =>
        val (k, n, g) = (r.getLong(0), r.getString(1), r.getLong(2))
        val inner = s"""<name>$n</name><region>$g</region>"""
        k % 3 match {
          case 0 => s"""  <a:book xmlns:a="urn:graft:books" key="$k">$inner</a:book>"""
          case 1 => s"""  <b:book xmlns:b="urn:graft:books" key="$k">$inner</b:book>"""
          case _ => s"""  <a:book xmlns:a="urn:graft:decoy" key="$k">$inner</a:book>"""
        }
      }.mkString("\n")
      Files.write(Paths.get(dir, s"cat_$fid.xml"),
        s"<catalog>\n$body\n</catalog>".getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("_key", LongType),
      StructField("name", StringType),
      StructField("region", LongType)))
    readXmlNodePath(s, dir, "/catalog/ns:book",
      ns = Map("ns" -> "urn:graft:books"))
      .withColumn("p", from_xml(col("xml"), schema))
      .select(
        col("p._key").as("n_nationkey"),
        col("p.name").as("n_name"),
        col("p.region").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** ROOT-declared namespaces (round 9 — closes the former documented
    * limitation): the feed binds its prefixes on `<catalog>`, the common
    * real-world shape, so every captured `<x:book>` subtree would have
    * carried an UNBOUND prefix before ancestor re-injection. The fixture
    * also has records that redeclare their own prefix (injection must not
    * duplicate it) and decoy records whose root-bound prefix resolves to
    * a decoy URI (URI matching must still exclude them).
    */
  val srcXmlNsRoot: Q = (s, d) => {
    val dir = fresh("src_xml_ns_root", d)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect()
    rows.groupBy(r => r.getLong(0) % 2).foreach { case (fid, rs) =>
      val body = rs.map { r =>
        val (k, n, g) = (r.getLong(0), r.getString(1), r.getLong(2))
        val inner = s"""<name>$n</name><region>$g</region>"""
        k % 3 match {
          // prefix bound on the ROOT only — the re-injection case
          case 0 => s"""  <x:book key="$k">$inner</x:book>"""
          // record redeclares its own binding — injection must not duplicate
          case 1 => s"""  <b:book xmlns:b="urn:graft:books" key="$k">$inner</b:book>"""
          // root-bound DECOY prefix — URI matching must exclude
          case _ => s"""  <dk:book key="$k">$inner</dk:book>"""
        }
      }.mkString("\n")
      Files.write(Paths.get(dir, s"cat_$fid.xml"),
        (s"""<catalog xmlns:x="urn:graft:books" xmlns:dk="urn:graft:decoy">""" +
          s"\n$body\n</catalog>").getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("_key", LongType),
      StructField("name", StringType),
      StructField("region", LongType)))
    readXmlNodePath(s, dir, "/catalog/ns:book",
      ns = Map("ns" -> "urn:graft:books"))
      .withColumn("p", from_xml(col("xml"), schema))
      .select(
        col("p._key").as("n_nationkey"),
        col("p.name").as("n_name"),
        col("p.region").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** Attribute predicates AT SPLIT TIME —
    * `/catalog/shelf[@genre='fiction']/book[@lang="en"]` (one step per
    * quote form): a subtree is captured only when every ancestor level
    * matches both the element name AND its attribute predicate. The
    * fixture mixes everything that could false-positive at the same
    * element path: tech shelves (ancestor predicate fails), fr books
    * (leaf predicate fails), a review/book with lang="en" (path fails,
    * attribute matches), and an en book NESTED inside a captured record
    * (must stay part of that record, never re-trigger capture) — any
    * leak breaks the filtered nation oracle.
    */
  val srcXmlNodePathPred: Q = (s, d) => {
    val dir = fresh("src_xml_nodepath_pred", d)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect()
    rows.groupBy(r => r.getLong(0) % 3).foreach { case (fid, rs) =>
      val body = rs.map { r =>
        val (k, n, g) = (r.getLong(0), r.getString(1), r.getLong(2))
        val genre = if (g % 2 == 0) "fiction" else "tech"
        val lang = if (k % 2 == 0) "en" else "fr"
        s"""  <shelf genre="$genre">""" +
          s"""<book lang="$lang" key="$k"><name>$n</name><region>$g</region>""" +
          s"""<related><book lang="en" key="${k + 2000}"><name>REL</name><region>9</region></book></related></book>""" +
          s"""<book lang="fr" key="${k + 3000}"><name>ALT</name><region>7</region></book>""" +
          s"""<review stars="4"><book lang="en" key="${k + 1000}"><name>DECOY</name><region>8</region></book></review>""" +
          "</shelf>"
      }.mkString("\n")
      Files.write(Paths.get(dir, s"cat_$fid.xml"),
        s"<catalog>\n$body\n</catalog>".getBytes("UTF-8"))
    }
    val schema = StructType(Seq(
      StructField("_key", LongType),
      StructField("name", StringType),
      StructField("region", LongType)))
    readXmlNodePath(s, dir, """/catalog/shelf[@genre='fiction']/book[@lang="en"]""")
      .withColumn("p", from_xml(col("xml"), schema))
      .select(
        col("p._key").as("n_nationkey"),
        col("p.name").as("n_name"),
        col("p.region").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** ONE large multi-record file parsed in N>1 tasks — the intra-file
    * split path exercised as a contract row: the same book/decoy fixture
    * as src_xml_nodepath but written as a SINGLE file, read with a split
    * target small enough to force several ranges. `split_parallel` pins
    * that the plan really had >1 partition; the values hash against the
    * plain nation oracle, so a record lost or duplicated at any split
    * boundary breaks the row.
    */
  val srcXmlSplitBigfile: Q = (s, d) => {
    val dir = fresh("src_xml_split_bigfile", d)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect()
    val body = rows.map { r =>
      val (k, n, g) = (r.getLong(0), r.getString(1), r.getLong(2))
      s"""  <book key="$k"><name>$n</name><region>$g</region>""" +
        s"""<related><book key="${k + 2000}"><name>REL</name><region>9</region></book></related></book>
           |  <review stars="5"><book key="${k + 1000}"><name>DECOY</name><region>8</region></book></review>""".stripMargin
    }.mkString("\n")
    Files.write(Paths.get(dir, "cat_all.xml"),
      s"<catalog>\n$body\n</catalog>".getBytes("UTF-8"))
    val snippets = readXmlNodePath(s, dir, "/catalog/book",
      targetSplitBytes = 1024L)
    val parallel = snippets.rdd.getNumPartitions > 1
    val schema = StructType(Seq(
      StructField("_key", LongType),
      StructField("name", StringType),
      StructField("region", LongType)))
    snippets
      .withColumn("p", from_xml(col("xml"), schema))
      .select(
        col("p._key").as("n_nationkey"),
        col("p.name").as("n_name"),
        col("p.region").as("n_regionkey"))
      .withColumn("split_parallel", lit(parallel))
      .orderBy(col("n_nationkey"))
  }

  /** Derive a Spark schema from an XSD (XML Reader's schema declaration
    * path), covering the shapes real XSDs have: primitive leaves, a NESTED
    * complexType (publisher → struct), a REPEATED element
    * (author maxOccurs="unbounded" → array<struct>), an optional nested
    * element (minOccurs="0" → nullable), and an OPTIONAL attribute
    * (edition, no use="required"), plus the two schema-model edges the
    * CDAP mapping calls out (SURVEY §1.1): an ENUM-valued element
    * (xs:restriction/xs:enumeration → string) and a two-branch
    * xs:choice UNION (each branch surfaces as a nullable field). Output is
    * the recursively flattened (path, dtype, nullable) triple list — arrays
    * descend through their element type with an `[]` path marker — so the
    * whole structural mapping is what gets hash-verified.
    */
  val srcXmlXsdSchema: Q = (s, _) => {
    val xsd =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="book">
        |    <xs:complexType>
        |      <xs:sequence>
        |        <xs:element name="title" type="xs:string"/>
        |        <xs:element name="pages" type="xs:int"/>
        |        <xs:element name="isbn" type="xs:long"/>
        |        <xs:element name="price" type="xs:double"/>
        |        <xs:element name="weight" type="xs:float"/>
        |        <xs:element name="in_print" type="xs:boolean"/>
        |        <xs:element name="published" type="xs:date" minOccurs="0"/>
        |        <xs:element name="author" maxOccurs="unbounded">
        |          <xs:complexType>
        |            <xs:sequence>
        |              <xs:element name="name" type="xs:string"/>
        |              <xs:element name="born" type="xs:int" minOccurs="0"/>
        |            </xs:sequence>
        |          </xs:complexType>
        |        </xs:element>
        |        <xs:element name="publisher">
        |          <xs:complexType>
        |            <xs:sequence>
        |              <xs:element name="pname" type="xs:string"/>
        |              <xs:element name="city" type="xs:string" minOccurs="0"/>
        |            </xs:sequence>
        |            <xs:attribute name="pid" type="xs:long" use="required"/>
        |          </xs:complexType>
        |        </xs:element>
        |        <xs:element name="format">
        |          <xs:simpleType>
        |            <xs:restriction base="xs:string">
        |              <xs:enumeration value="hardcover"/>
        |              <xs:enumeration value="paperback"/>
        |              <xs:enumeration value="ebook"/>
        |            </xs:restriction>
        |          </xs:simpleType>
        |        </xs:element>
        |        <xs:choice>
        |          <xs:element name="ebook_url" type="xs:string"/>
        |          <xs:element name="print_weight" type="xs:double"/>
        |        </xs:choice>
        |      </xs:sequence>
        |      <xs:attribute name="id" type="xs:string" use="required"/>
        |      <xs:attribute name="edition" type="xs:int"/>
        |    </xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    val root = XSDToSchema.read(xsd)
    val book = root.fields.head.dataType.asInstanceOf[StructType]
    def flatten(prefix: String, st: StructType): Seq[(String, String, Boolean)] =
      st.fields.toSeq.flatMap { f =>
        val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
        f.dataType match {
          case nested: StructType =>
            (path, "struct", f.nullable) +: flatten(path, nested)
          case ArrayType(el: StructType, containsNull) =>
            (path, "array<struct>", f.nullable) +:
              flatten(s"$path[]", el) :+ (s"$path[]", "struct", containsNull)
          case ArrayType(el, containsNull) =>
            Seq((path, s"array<${el.simpleString}>", f.nullable),
              (s"$path[]", el.simpleString, containsNull))
          case other =>
            Seq((path, other.simpleString, f.nullable))
        }
      }
    import s.implicits._
    flatten("", book).toDF("field", "dtype", "nullable")
      .orderBy(col("field"), col("dtype"))
  }

  /** Glob-pattern file selection — the XML Reader reads "files from a path
    * with a glob pattern": only inbox files matching the pattern are
    * ingested; decoy files sitting in the same directory are not. Globs
    * resolve in the path layer (driver-side listing against the pattern),
    * so the scan plans only the matching files — at 100 TB this is the
    * cheap pre-partition-pruning cut that never touches excluded data.
    */
  val srcGlobRead: Q = (s, d) => {
    val dir = fresh("src_glob_read", d)
    val n = Tables.nation(s, d).select(
      col("n_nationkey").as("_key"),
      col("n_name").as("name"))
    n.filter(pmod(col("_key"), lit(2)) === 0).repartition(1)
      .write.mode("overwrite")
      .option("rowTag", "nation").format("xml").save(s"$dir/batch_even.xml.d")
    n.filter(pmod(col("_key"), lit(2)) === 1).repartition(1)
      .write.mode("overwrite")
      .option("rowTag", "nation").format("xml").save(s"$dir/batch_odd.xml.d")
    n.repartition(1).write.mode("overwrite")
      .option("rowTag", "nation").format("xml").save(s"$dir/decoy.skip.d")
    // Glob selects the two batch_* dirs, not the decoy: reading it would
    // duplicate every row and break the hash.
    s.read.option("rowTag", "nation").format("xml").load(s"$dir/batch_*.xml.d")
      .select(col("_key").as("n_nationkey"), col("name").as("n_name"))
      .orderBy(col("n_nationkey"))
  }

  /** Enum + union VALUE round-trip (the schema-mapping counterpart lives in
    * src_xml_xsd_schema): records are serialized with an enum-valued
    * attribute and element and exactly ONE branch of a two-branch
    * xs:choice, then parsed back through the XSD-DERIVED schema with
    * from_xml — per record the taken branch carries its typed value and the
    * other is NULL, which is precisely the CDAP union→nullable mapping.
    * All parsing is the codegen'd from_xml expression over nation rows, so
    * DuckDB oracles every value from the parquet columns.
    */
  val srcXmlEnumUnion: Q = (s, d) => {
    val xsd =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="item">
        |    <xs:complexType>
        |      <xs:sequence>
        |        <xs:element name="format">
        |          <xs:simpleType>
        |            <xs:restriction base="xs:string">
        |              <xs:enumeration value="hardcover"/>
        |              <xs:enumeration value="paperback"/>
        |              <xs:enumeration value="ebook"/>
        |            </xs:restriction>
        |          </xs:simpleType>
        |        </xs:element>
        |        <xs:choice>
        |          <xs:element name="ebook_url" type="xs:string"/>
        |          <xs:element name="print_weight" type="xs:double"/>
        |        </xs:choice>
        |      </xs:sequence>
        |      <xs:attribute name="key" type="xs:long" use="required"/>
        |      <xs:attribute name="cond" use="required">
        |        <xs:simpleType>
        |          <xs:restriction base="xs:string">
        |            <xs:enumeration value="new"/>
        |            <xs:enumeration value="used"/>
        |          </xs:restriction>
        |        </xs:simpleType>
        |      </xs:attribute>
        |    </xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    val item = XSDToSchema.read(xsd).fields.head.dataType.asInstanceOf[StructType]
    val key = col("n_nationkey")
    Tables.nation(s, d)
      .withColumn("xml", concat(
        lit("<item key=\""), key,
        lit("\" cond=\""), when(pmod(key, lit(2)) === 0, "new").otherwise("used"),
        lit("\"><format>"),
        element_at(
          array(lit("hardcover"), lit("paperback"), lit("ebook")),
          (pmod(key, lit(3)) + 1).cast("int")),
        lit("</format>"),
        when(pmod(key, lit(2)) === 0,
          concat(lit("<ebook_url>https://ex.org/"), col("n_name"), lit("</ebook_url>")))
          .otherwise(concat(lit("<print_weight>"), round(key * 1.5, 1), lit("</print_weight>"))),
        lit("</item>")))
      .withColumn("p", from_xml(col("xml"), item))
      .select(
        col("p._key").as("n_nationkey"),
        col("p._cond").as("cond"),
        col("p.format").as("format"),
        col("p.ebook_url").as("ebook_url"),
        col("p.print_weight").as("print_weight"))
      .orderBy(col("n_nationkey"))
  }

  /** XSD validation as a per-record transform: each snippet validates
    * against the compiled schema, emitting (xml, xsd_ok, xsd_reason) —
    * the reason is the stable W3C cvc- clause code of the FIRST violation
    * (message prefix before ':'), not the free-text tail. One compiled
    * Schema + Validator per PARTITION via mapPartitions (the deliberate
    * imperative-codec shape: SchemaFactory compilation is milliseconds
    * and Validator is not thread-safe, so per-row construction would
    * dominate and per-executor sharing would race). Validation cost is a
    * per-record SAX pass — linear, no shuffle; at 100 TB it rides the
    * same scan as the parse.
    */
  def validateXsd(s: SparkSession, records: DataFrame, xsd: String,
      xmlCol: String = "xml"): DataFrame = {
    import s.implicits._
    records.select(col(xmlCol)).as[String].mapPartitions { it =>
      val sf = javax.xml.validation.SchemaFactory
        .newInstance(javax.xml.XMLConstants.W3C_XML_SCHEMA_NS_URI)
      val schema = sf.newSchema(new javax.xml.transform.stream.StreamSource(
        new java.io.StringReader(xsd)))
      val validator = schema.newValidator()
      it.map { xml =>
        try {
          validator.validate(new javax.xml.transform.stream.StreamSource(
            new java.io.StringReader(xml)))
          (xml, true, null: String)
        } catch {
          case e: org.xml.sax.SAXException =>
            val m = Option(e.getMessage).getOrElse("")
            val code =
              if (m.startsWith("cvc-")) m.takeWhile(_ != ':') else "not-well-formed"
            (xml, false, code)
        }
      }
    }.toDF("xml", "xsd_ok", "xsd_reason")
  }

  /** XSD-VALIDATING parse mode with error-port routing (the reference XML
    * Parser's validating mode composed with its error policy): records
    * validate against the XSD, valid rows flow to the main port and parse
    * through the XSD-DERIVED schema (src_xml_xsd_schema's mapping),
    * violations route to the error port with the cvc clause code as the
    * reason. Planted violations: key % 5 == 2 carries a non-numeric
    * <region> (datatype violation), key % 5 == 4 omits the required
    * <region> element (content-model violation) — the routing decision
    * comes from the VALIDATOR, not the planting rule.
    */
  val srcXmlXsdValidate: Q = (s, d) => {
    val xsd =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<xs:schema xmlns:xs="http://www.w3.org/2001/XMLSchema">
        |  <xs:element name="book">
        |    <xs:complexType>
        |      <xs:sequence>
        |        <xs:element name="name" type="xs:string"/>
        |        <xs:element name="region" type="xs:long"/>
        |      </xs:sequence>
        |      <xs:attribute name="key" type="xs:long" use="required"/>
        |    </xs:complexType>
        |  </xs:element>
        |</xs:schema>""".stripMargin
    val key = col("n_nationkey")
    val recs = Tables.nation(s, d).select(concat(
      lit("<book key=\""), key, lit("\"><name>"), col("n_name"), lit("</name>"),
      when(pmod(key, lit(5)) === 2, lit("<region>oops</region>"))
        .when(pmod(key, lit(5)) === 4, lit(""))
        .otherwise(concat(lit("<region>"), col("n_regionkey"), lit("</region>"))),
      lit("</book>")).as("xml"))
    val validated = validateXsd(s, recs, xsd)
    val (main, error) = graft.operators.Pipeline.errorPort(
      validated, col("xsd_ok"), col("xml"), col("xsd_reason"))
    val bookSchema = XSDToSchema.read(xsd).fields.head.dataType
      .asInstanceOf[StructType]
    val mainSummary = main
      .withColumn("p", from_xml(col("xml"), bookSchema))
      .agg(count(lit(1)).as("cnt"), sum(col("p.region")).as("sum_region"),
        sum(col("p._key")).as("sum_key"))
      .select(lit("main").as("port"), lit("valid").as("reason"),
        col("cnt"), col("sum_region"), col("sum_key"))
    val errSummary = error.groupBy(col("reason"))
      .agg(count(lit(1)).as("cnt"))
      .select(lit("error").as("port"), col("reason"), col("cnt"),
        lit(null).cast("long").as("sum_region"),
        lit(null).cast("long").as("sum_key"))
    mainSummary.unionByName(errSummary).orderBy(col("port"), col("reason"))
  }

  /** Malformed-record policy ≙ the reference XML Parser's ignore / stop /
    * error-port modes: PERMISSIVE routes broken records to a corrupt-record
    * column (error port), DROPMALFORMED ignores them, FAILFAST stops.
    * Fixture: 8 well-formed + 2 broken records (unclosed tag, bad entity).
    */
  val srcXmlPermissive: Q = (s, d) => {
    val dir  = fresh("src_xml_permissive", d)
    val recs = (1 to 8).map(i => s"  <rec><id>$i</id><v>ok$i</v></rec>")
    val broken = Seq(
      "  <rec><id>9</id><v>unclosed</rec>",
      "  <rec><id>10</id><v>&badent;</v></rec>")
    val doc = ("<recs>" +: (recs ++ broken) :+ "</recs>").mkString("\n")
    Files.write(Paths.get(dir, "mixed.xml"), doc.getBytes("UTF-8"))

    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt", StringType)))
    val perm = s.read.schema(schema)
      .option("rowTag", "rec").option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .format("xml").load(dir).cache()
    val good    = perm.filter(col("_corrupt").isNull).count()
    val corrupt = perm.filter(col("_corrupt").isNotNull).count()
    val dropped = s.read.schema(StructType(schema.dropRight(1)))
      .option("rowTag", "rec").option("mode", "DROPMALFORMED")
      .format("xml").load(dir).count()
    val failfastThrew = Try(
      s.read.schema(StructType(schema.dropRight(1)))
        .option("rowTag", "rec").option("mode", "FAILFAST")
        .format("xml").load(dir).count()).isFailure
    perm.unpersist()
    import s.implicits._
    Seq(
      ("PERMISSIVE", "good", good),
      ("PERMISSIVE", "corrupt", corrupt),
      ("DROPMALFORMED", "good", dropped),
      ("FAILFAST", "threw", if (failfastThrew) 1L else 0L))
      .toDF("mode", "bucket", "cnt")
      .orderBy(col("mode"), col("bucket"))
  }

  /** CSV / JSON / text scans with schema inference: supplier round-tripped
    * through both formats (doubles survive via shortest-repr printing), plus
    * a text-source line count over the JSON files (1 object per line).
    */
  val srcCsvJsonText: Q = (s, d) => {
    val base = fresh("src_csv_json_text", d)
    val sup  = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"), col("s_acctbal"))
    sup.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    sup.write.mode("overwrite").json(s"$base/json")
    val fromCsv = s.read.option("header", "true").option("inferSchema", "true")
      .csv(s"$base/csv")
    val fromJson = s.read.json(s"$base/json")
      .select(fromCsv.columns.map(col).toSeq: _*)
    val textLines = s.read.text(s"$base/json").count() // rows == suppliers
    import s.implicits._
    val textRow = Seq(("text", textLines)).toDF("fmt", "s_suppkey")
      .withColumn("s_name", lit(null).cast("string"))
      .withColumn("s_nationkey", lit(null).cast("long"))
      .withColumn("s_acctbal", lit(null).cast("double"))
    fromCsv.withColumn("fmt", lit("csv"))
      .unionByName(fromJson.withColumn("fmt", lit("json")))
      .withColumn("s_suppkey", col("s_suppkey").cast("long"))
      .withColumn("s_nationkey", col("s_nationkey").cast("long"))
      .unionByName(textRow.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal", "fmt"))
      .orderBy(col("fmt"), col("s_suppkey"))
  }

  /** XML Reader's processed-file tracking ≙ idempotent incremental
    * ingestion, batch analogue (SURVEY §2.1): new files are discovered by
    * anti-joining the scanned file inventory against a processed-file
    * ledger — WITH the reference's ledger-expiry window: an entry older
    * than the retention cutoff no longer suppresses its file, so the file
    * is re-ingested (the reference re-reads files whose tracking record
    * aged out). Orders is laid out as three "arrival batches": file1 has a
    * FRESH ledger entry (skipped), file2 has none (new — ingested), file3's
    * entry is EXPIRED (re-ingested). All ledger timestamps are fixed
    * literals, so the result is deterministic and fully oracled.
    * At 100 TB the ledger join is a broadcast (file inventory is tiny
    * relative to data) — exactly what Spark picks here.
    */
  val srcIncrementalFiles: Q = (s, d) => {
    val base = fresh("src_incremental_files", d)
    val o = Tables.orders(s, d)
    for (i <- 0 to 2)
      o.filter(pmod(col("o_orderkey"), lit(3)) === i)
        .write.mode("overwrite").parquet(s"$base/file${i + 1}")
    import s.implicits._
    val ledger = Seq(
      ("file1", "2026-08-01 00:00:00"),  // fresh — still suppresses file1
      ("file3", "2026-07-20 00:00:00"))  // expired — file3 re-ingested
      .toDF("processed_dir", "processed_at")
      .withColumn("processed_at", col("processed_at").cast("timestamp"))
    val cutoff = lit("2026-07-26 00:00:00").cast("timestamp") // now − 7 days
    val live = ledger.filter(col("processed_at") >= cutoff)
    val scanned = s.read.parquet(s"$base/file1", s"$base/file2", s"$base/file3")
      .withColumn("src_dir", regexp_extract(input_file_name(), "(file1|file2|file3)", 1))
    scanned
      .join(broadcast(live), scanned("src_dir") === live("processed_dir"), "left_anti")
      .agg(
        count(lit(1)).as("n_new_rows"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
  }

  /** Non-UTF8 input encoding — the XML Reader's charset configuration: a
    * feed declared and encoded as ISO-8859-1 (accented chars are single
    * 0xE9-style bytes, NOT valid UTF-8) must decode correctly when the
    * reader is told the charset. The fixture appends a non-ASCII literal to
    * every nation name so a mis-decoded byte corrupts every row and the
    * hash gate catches it; the oracle recomputes the same strings from the
    * parquet column in UTF-8.
    */
  val srcXmlEncoding: Q = (s, d) => {
    val dir = fresh("src_xml_encoding", d)
    val rows = Tables.nation(s, d)
      .select(col("n_nationkey").cast("long"), col("n_name"))
      .orderBy(col("n_nationkey")).collect()
    val body = rows.map { r =>
      s"""  <n key="${r.getLong(0)}"><name>${r.getString(1)} café über</name></n>"""
    }.mkString("\n")
    val doc = "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n<ns>\n" +
      body + "\n</ns>"
    Files.write(Paths.get(dir, "latin1.xml"), doc.getBytes("ISO-8859-1"))
    s.read
      .schema(StructType(Seq(
        StructField("_key", LongType), StructField("name", StringType))))
      .option("rowTag", "n").option("encoding", "ISO-8859-1")
      .format("xml").load(dir)
      .select(col("_key").as("n_nationkey"), col("name"))
      .orderBy(col("n_nationkey"))
  }

  /** Schema evolution across arrival batches — the drift a long-lived
    * ingestion pipeline accumulates: an early batch lacks a column later
    * batches carry. `mergeSchema` unions the per-file schemas at scan time;
    * rows from the old batch surface NULL for the added column, which the
    * query then handles explicitly (coalesce to a sentinel). At 100 TB
    * schema merging is a footer-only operation (no data rewrite) — the
    * reason this beats rewriting history when a field is added.
    */
  val srcSchemaEvolution: Q = (s, d) => {
    val base = fresh("src_schema_evolution", d)
    val o = Tables.orders(s, d)
    o.filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"), col("o_totalprice"))
      .write.mode("overwrite").parquet(s"$base/batch1")
    o.filter(pmod(col("o_orderkey"), lit(2)) === 1)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      .write.mode("overwrite").parquet(s"$base/batch2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$base/batch1", s"$base/batch2")
      .groupBy(coalesce(col("o_orderstatus"), lit("<pre-schema>")).as("status"))
      .agg(
        count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("status"))
  }

  // ======================================================================
  // §2.1 sinks
  // ======================================================================

  /** Write an aggregate result to parquet and read it back — the harness's
    * own sink path, verified round-trip.
    */
  /** FIXED-WIDTH text ingestion — the mainframe/legacy-feed format every
    * integration suite supports: records are positional byte slices, no
    * delimiters. Construction and parsing are both pure codegen string
    * ops (`lpad/rpad` out, `substring/trim/cast` in), a narrow scan with
    * no shuffle — byte-position parsing parallelizes over file splits
    * exactly like CSV at 100 TB. Account balances carry a +10^9 offset so
    * negative values stay sign-free inside the zero-padded field.
    */
  val srcFixedWidth: Q = (s, d) => {
    val dir = fresh("src_fixed_width", d)
    // Layout: suppkey [1,8] name [9,25) natkey [34,4) cents+1e9 [38,12)
    Tables.supplier(s, d)
      .select(concat(
        lpad(col("s_suppkey").cast("string"), 8, "0"),
        rpad(col("s_name"), 25, " "),
        lpad(col("s_nationkey").cast("string"), 4, "0"),
        lpad((round(col("s_acctbal") * 100).cast("long") + 1000000000L)
          .cast("string"), 12, "0")).as("value"))
      .write.mode("overwrite").text(dir)
    s.read.text(dir)
      .select(
        substring(col("value"), 1, 8).cast("long").as("s_suppkey"),
        rtrim(substring(col("value"), 9, 25)).as("s_name"),
        substring(col("value"), 34, 4).cast("int").as("s_nationkey"),
        (substring(col("value"), 38, 12).cast("long") - 1000000000L)
          .as("bal_cents"))
      .orderBy(col("s_suppkey"))
  }

  /** CSV + JSON sink round-trip — the delimited/semi-structured WRITE
    * half (the read half is src_csv_json_text): the same frame lands in
    * both formats and is read back under the declared schema; per-format
    * aggregates prove the round-trip is lossless and identical across
    * formats. Both writers/readers are splittable codegen'd sources at
    * scale.
    */
  val snkTextFormats: Q = (s, d) => {
    val dir = fresh("snk_text_formats", d)
    val base = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    base.write.mode("overwrite").json(s"$dir/json")
    val csv = s.read.option("header", "true").schema(base.schema)
      .csv(s"$dir/csv").withColumn("fmt", lit("csv"))
    val jsn = s.read.schema(base.schema).json(s"$dir/json")
      .withColumn("fmt", lit("json"))
    csv.unionByName(jsn)
      .groupBy(col("fmt"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("n_nationkey").cast("long")).as("key_sum"),
        min(col("n_name")).as("first_name"),
        max(col("n_regionkey").cast("long")).as("max_region"))
      .orderBy(col("fmt"))
  }

  /** ORC round-trip — the second columnar interchange format Spark ships
    * natively (the ORC reader/writer jars are on every executor; there is
    * no spark-avro in this classpath, documented in SURVEY §2.1). Write
    * supplier as ORC, read it back, aggregate. ORC carries the same
    * pushdown machinery as parquet (column pruning + min/max stripe
    * skipping reach OrcScan via the same v2 ScanBuilder), so the scan-side
    * scale story is unchanged. Money is snapped to integer cents before
    * summing so the aggregate is FP-order-independent on both engines.
    */
  val srcOrcRoundtrip: Q = (s, d) => {
    val dir = fresh("src_orc_roundtrip", d)
    Tables.supplier(s, d).write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_sup"),
        sum(round(col("s_acctbal") * 100).cast("long")).as("bal_cents"),
        min(col("s_name")).as("first_name"))
      .orderBy(col("s_nationkey"))
  }

  /** Dynamic partition overwrite — the idempotent-backfill primitive: a
    * partitioned table is loaded once, then ONE partition is recomputed
    * and rewritten with `partitionOverwriteMode=dynamic`, which replaces
    * exactly the partitions present in the incoming frame and leaves every
    * other partition's files untouched. At 100 TB this is how daily
    * corrections ship without rewriting the table. The final read-back
    * aggregate proves both halves: the patched partition carries the new
    * values, the untouched partitions still carry the originals. Prices
    * travel as integer cents so the +500 patch and the sums are exact.
    */
  val snkDynamicOverwrite: Q = (s, d) => {
    val dir = fresh("snk_dynamic_overwrite", d)
    val base = Tables.orders(s, d).select(
      col("o_orderkey"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority"))
    base.write.mode("overwrite").partitionBy("o_orderpriority").parquet(dir)
    base.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("price_cents", col("price_cents") + 500)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderpriority").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("price_cents")).as("sum_cents"),
        min(col("o_orderkey")).as("min_key"))
      .orderBy(col("o_orderpriority"))
  }

  val snkParquetWrite: Q = (s, d) => {
    val dir = fresh("snk_parquet_write", d)
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice")), 2).as("sum_price"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    s.read.parquet(dir).orderBy(col("l_returnflag"))
  }

  /** Hive-style partitioned layout for 100 TB corpora: documents written
    * `partitionBy(lang)`, read back with partition discovery. Downstream
    * per-language queries then scan a single partition directory
    * (partition pruning) instead of the whole corpus.
    */
  val snkPartitionedWrite: Q = (s, d) => {
    val dir = fresh("snk_partitioned_write", d)
    Tables.documents(s, d)
      .write.mode("overwrite").partitionBy("lang").parquet(dir)
    s.read.parquet(dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("lang"))
  }

  /** Small-files COMPACTION — the maintenance job every long-lived 100 TB
    * ingestion layout needs: a directory accumulated as many small files
    * (here: a 64-way write) is rewritten into few large ones (4), which
    * restores scan efficiency (file-open and footer overhead scale with
    * file count, and tiny row groups defeat min/max skipping). One
    * distributed read + round-robin repartition + write; the row-content
    * aggregate proves compaction is lossless and the before/after file
    * counts travel through the oracle.
    */
  val snkCompaction: Q = (s, d) => {
    val base = fresh("snk_compaction", d)
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    def nFiles(p: String): Long =
      fs.listStatus(new HPath(p)).count(_.getPath.getName.endsWith(".parquet")).toLong
    Tables.documents(s, d).repartition(64)
      .write.mode("overwrite").parquet(s"$base/small")
    s.read.parquet(s"$base/small").repartition(4)
      .write.mode("overwrite").parquet(s"$base/compact")
    // File counts travel as the REDUCTION boolean, not raw numbers:
    // round-robin repartition only guarantees every target partition is
    // non-empty when some input split carries ≥ targets rows, so exact
    // before/after counts are fixture-layout-dependent — the invariant the
    // operator promises is "fewer, larger files, same content".
    s.read.parquet(s"$base/compact")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
      .withColumn("compacted",
        lit(nFiles(s"$base/small") > nFiles(s"$base/compact")))
      .withColumn("files_after_le_4", lit(nFiles(s"$base/compact") <= 4L))
  }

  /** Post-read file actions (XML Reader: none/delete/move/archive) — each
    * variant exercised distinctly as a driver-side FileSystem action after a
    * successful read, not a plan node. Three inboxes receive the same
    * 4-part dataset; after reading, inbox A is ARCHIVED (renamed under an
    * archive root), inbox B is MOVED to a target folder, inbox C is DELETED.
    * The summary row per action carries the file count the action touched,
    * the files left in the inbox afterwards (must be 0), and the rows read
    * before the action (proving read-then-act ordering).
    */
  val snkFileActions: Q = (s, d) => {
    val base = fresh("snk_file_actions", d)
    val fs = FileSystem.get(s.sparkContext.hadoopConfiguration)
    def stage(name: String): (HPath, Long) = {
      val inbox = new HPath(s"$base/inbox_$name")
      Tables.supplier(s, d).repartition(4)
        .write.mode("overwrite").parquet(inbox.toString)
      (inbox, s.read.parquet(inbox.toString).count())
    }
    def parts(p: HPath): Array[HPath] =
      fs.listStatus(p).map(_.getPath).filter(_.getName.endsWith(".parquet"))

    val (inA, rowsA) = stage("archive")
    val archive = new HPath(s"$base/archive")
    fs.mkdirs(archive)
    val archived = parts(inA).map(p => fs.rename(p, new HPath(archive, p.getName)))
      .count(identity)

    val (inB, rowsB) = stage("move")
    val target = new HPath(s"$base/target")
    fs.mkdirs(target)
    val movedN = parts(inB).map(p => fs.rename(p, new HPath(target, p.getName)))
      .count(identity)

    val (inC, rowsC) = stage("delete")
    val deletedN = parts(inC).map(p => fs.delete(p, false)).count(identity)

    import s.implicits._
    Seq(
      ("archive", archived.toLong, parts(inA).length.toLong, rowsA),
      ("delete",  deletedN.toLong, parts(inC).length.toLong, rowsC),
      ("move",    movedN.toLong,   parts(inB).length.toLong, rowsB))
      .toDF("action", "files_acted", "files_left", "rows_read")
      .orderBy(col("action"))
  }

  // ======================================================================
  // §2.7 fn_xml_* — XML Parser / XML-to-JSON transforms
  // ======================================================================

  /** XML Parser transform: string column → typed columns via XPath
    * mappings with type coercion (xpath_long / xpath_string / xpath_double
    * / xpath_boolean — the reference's outputField:xpath + field:type
    * config). The XML is built per-row from orders, so DuckDB oracles the
    * extraction against the original columns. All xpath_* calls are
    * codegen'd Catalyst expressions — no UDFs in the hot path.
    */
  val fnXmlParse: Q = (s, d) =>
    Tables.orders(s, d)
      .withColumn("xml", concat(
        lit("<order id=\""), col("o_orderkey"),
        lit("\" urgent=\""),
        when(col("o_orderpriority") === "1-URGENT", "true").otherwise("false"),
        lit("\"><cust>"), col("o_custkey"),
        lit("</cust><status>"), col("o_orderstatus"),
        lit("</status><total>"), col("o_totalprice"),
        lit("</total></order>")))
      .select(
        expr("xpath_long(xml, '/order/@id')").as("o_orderkey"),
        expr("xpath_long(xml, '/order/cust/text()')").as("o_custkey"),
        expr("xpath_string(xml, '/order/status/text()')").as("o_orderstatus"),
        expr("xpath_double(xml, '/order/total/text()')").as("o_totalprice"),
        expr("xpath_boolean(xml, '/order/@urgent=\"true\"')").as("urgent"))
      .orderBy(col("o_orderkey"))

  /** XML-to-JSON transform: from_xml → struct → to_json. Output is
    * re-extracted from the JSON with get_json_object so the oracle compares
    * typed values, not engine-specific JSON formatting.
    */
  val fnXmlToJson: Q = (s, d) => {
    val schema = StructType(Seq(
      StructField("_key", LongType),
      StructField("name", StringType),
      StructField("region", LongType)))
    Tables.nation(s, d)
      .withColumn("xml", concat(
        lit("<nation key=\""), col("n_nationkey"),
        lit("\"><name>"), col("n_name"),
        lit("</name><region>"), col("n_regionkey"),
        lit("</region></nation>")))
      .withColumn("parsed", from_xml(col("xml"), schema))
      .withColumn("js", to_json(col("parsed")))
      .select(
        get_json_object(col("js"), "$._key").cast("long").as("n_nationkey"),
        get_json_object(col("js"), "$.name").as("n_name"),
        get_json_object(col("js"), "$.region").cast("long").as("n_regionkey"))
      .orderBy(col("n_nationkey"))
  }

  /** struct → XML string (to_xml) and back (from_xml): the serialization
    * inverse, verified as a full round-trip whose output equals the input
    * columns.
    */
  val fnXmlSerialize: Q = (s, d) => {
    val schema = StructType(Seq(
      StructField("key", LongType), StructField("name", StringType)))
    Tables.region(s, d)
      .withColumn("x", to_xml(struct(
        col("r_regionkey").cast("long").as("key"), col("r_name").as("name"))))
      .withColumn("back", from_xml(col("x"), schema))
      .select(
        col("back.key").as("r_regionkey"),
        col("back.name").as("r_name"))
      .orderBy(col("r_regionkey"))
  }

  // ======================================================================
  // registry
  // ======================================================================

  val queries: Map[String, Q] = Map(
    "src_parquet_scan"      -> srcParquetScan,
    "src_xml_read"          -> srcXmlRead,
    "src_xml_xsd_schema"    -> srcXmlXsdSchema,
    "src_xml_xsd_validate"  -> srcXmlXsdValidate,
    "src_xml_permissive"    -> srcXmlPermissive,
    "src_xml_enum_union"    -> srcXmlEnumUnion,
    "src_glob_read"         -> srcGlobRead,
    "src_xml_nodepath"      -> srcXmlNodePath,
    "src_xml_ns_path"       -> srcXmlNsPath,
    "src_xml_ns_root"       -> srcXmlNsRoot,
    "src_xml_split_bigfile" -> srcXmlSplitBigfile,
    "src_xml_nodepath_pred" -> srcXmlNodePathPred,
    "src_csv_json_text"     -> srcCsvJsonText,
    "src_incremental_files" -> srcIncrementalFiles,
    "src_schema_evolution"  -> srcSchemaEvolution,
    "src_xml_encoding"      -> srcXmlEncoding,
    "src_orc_roundtrip"     -> srcOrcRoundtrip,
    "src_fixed_width"       -> srcFixedWidth,
    "snk_text_formats"      -> snkTextFormats,
    "snk_dynamic_overwrite" -> snkDynamicOverwrite,
    "snk_parquet_write"     -> snkParquetWrite,
    "snk_partitioned_write" -> snkPartitionedWrite,
    "snk_file_actions"      -> snkFileActions,
    "snk_compaction"        -> snkCompaction,
    "fn_xml_parse"          -> fnXmlParse,
    "fn_xml_to_json"        -> fnXmlToJson,
    "fn_xml_serialize"      -> fnXmlSerialize)

  val oracles: Map[String, String] = Map(
    "src_fixed_width" ->
      """SELECT s_suppkey, s_name, s_nationkey,
        | CAST(round(s_acctbal * 100) AS BIGINT) AS bal_cents
        |FROM supplier ORDER BY s_suppkey""".stripMargin,
    "snk_text_formats" ->
      """WITH agg AS (
        |  SELECT count(*) AS n, CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
        |   min(n_name) AS first_name,
        |   CAST(max(n_regionkey) AS BIGINT) AS max_region
        |  FROM nation)
        |SELECT 'csv' AS fmt, n, key_sum, first_name, max_region FROM agg
        |UNION ALL
        |SELECT 'json', n, key_sum, first_name, max_region FROM agg
        |ORDER BY fmt""".stripMargin,
    "src_orc_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n_sup,
        | CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
        |   AS bal_cents,
        | min(s_name) AS first_name
        |FROM supplier GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin,
    "snk_dynamic_overwrite" ->
      """WITH base AS (
        |  SELECT o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT)
        |    AS price_cents, o_orderpriority FROM orders)
        |SELECT o_orderpriority, count(*) AS n,
        | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT'
        |   THEN price_cents + 500 ELSE price_cents END) AS BIGINT) AS sum_cents,
        | min(o_orderkey) AS min_key
        |FROM base GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "src_parquet_scan" ->
      """SELECT count(*) AS n_rows, min(l_orderkey) AS min_key,
        |       max(l_orderkey) AS max_key, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem""".stripMargin,
    "src_xml_read" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "src_xml_xsd_schema" ->
      """SELECT * FROM (VALUES
        |  ('_edition', 'int', true), ('_id', 'string', false),
        |  ('author', 'array<struct>', false), ('author[]', 'struct', true),
        |  ('author[].born', 'int', true), ('author[].name', 'string', false),
        |  ('ebook_url', 'string', true), ('format', 'string', false),
        |  ('in_print', 'boolean', false), ('isbn', 'bigint', false),
        |  ('pages', 'int', false), ('price', 'double', false),
        |  ('print_weight', 'double', true), ('published', 'date', true),
        |  ('publisher', 'struct', false), ('publisher._pid', 'bigint', false),
        |  ('publisher.city', 'string', true), ('publisher.pname', 'string', false),
        |  ('title', 'string', false), ('weight', 'float', false))
        |  AS t(field, dtype, nullable)
        |ORDER BY field, dtype""".stripMargin,
    "src_xml_permissive" ->
      """SELECT * FROM (VALUES
        |  ('DROPMALFORMED', 'good', 8), ('FAILFAST', 'threw', 1),
        |  ('PERMISSIVE', 'corrupt', 2), ('PERMISSIVE', 'good', 8))
        |  AS t(mode, bucket, cnt)
        |ORDER BY mode, bucket""".stripMargin,
    "src_xml_xsd_validate" ->
      """SELECT 'error' AS port, 'cvc-complex-type.2.4.b' AS reason,
        |       count(*) AS cnt, CAST(NULL AS BIGINT) AS sum_region,
        |       CAST(NULL AS BIGINT) AS sum_key
        |FROM nation WHERE n_nationkey % 5 = 4
        |UNION ALL
        |SELECT 'error', 'cvc-datatype-valid.1.2.1', count(*), NULL, NULL
        |FROM nation WHERE n_nationkey % 5 = 2
        |UNION ALL
        |SELECT 'main', 'valid', count(*),
        |       CAST(sum(n_regionkey) AS BIGINT), CAST(sum(n_nationkey) AS BIGINT)
        |FROM nation WHERE n_nationkey % 5 NOT IN (2, 4)
        |ORDER BY port, reason""".stripMargin,
    "src_xml_nodepath" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",
    "src_xml_ns_path" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey % 3 <> 2 ORDER BY n_nationkey""".stripMargin,
    "src_xml_ns_root" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_nationkey % 3 <> 2 ORDER BY n_nationkey""".stripMargin,
    "src_xml_split_bigfile" ->
      """SELECT n_nationkey, n_name, n_regionkey, TRUE AS split_parallel
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "src_xml_nodepath_pred" ->
      """SELECT n_nationkey, n_name, n_regionkey FROM nation
        |WHERE n_regionkey % 2 = 0 AND n_nationkey % 2 = 0
        |ORDER BY n_nationkey""".stripMargin,
    "src_glob_read" ->
      "SELECT n_nationkey, n_name FROM nation ORDER BY n_nationkey",
    "src_xml_enum_union" ->
      """SELECT n_nationkey,
        | CASE WHEN n_nationkey % 2 = 0 THEN 'new' ELSE 'used' END AS cond,
        | CASE n_nationkey % 3 WHEN 0 THEN 'hardcover' WHEN 1 THEN 'paperback'
        |   ELSE 'ebook' END AS format,
        | CASE WHEN n_nationkey % 2 = 0
        |   THEN 'https://ex.org/' || n_name END AS ebook_url,
        | CASE WHEN n_nationkey % 2 = 1
        |   THEN round(n_nationkey * 1.5, 1) END AS print_weight
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "src_csv_json_text" ->
      """SELECT s_suppkey, s_name, s_nationkey, s_acctbal, fmt
        |FROM (
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'csv' AS fmt FROM supplier
        |  UNION ALL
        |  SELECT s_suppkey, s_name, s_nationkey, s_acctbal, 'json' AS fmt FROM supplier
        |  UNION ALL
        |  SELECT count(*), NULL, NULL, NULL, 'text' FROM supplier)
        |ORDER BY fmt, s_suppkey""".stripMargin,
    "src_incremental_files" ->
      """SELECT count(*) AS n_new_rows, round(sum(o_totalprice), 2) AS sum_price
        |FROM orders WHERE o_orderkey % 3 IN (1, 2)""".stripMargin,
    "src_xml_encoding" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, " +
        "n_name || ' café über' AS name FROM nation ORDER BY n_nationkey"),
    "src_schema_evolution" ->
      """SELECT CASE WHEN o_orderkey % 2 = 0 THEN '<pre-schema>'
        |            ELSE o_orderstatus END AS status,
        |       count(*) AS n_orders,
        |       round(sum(o_totalprice), 2) AS sum_price
        |FROM orders GROUP BY 1 ORDER BY status""".stripMargin,
    "snk_parquet_write" ->
      """SELECT l_returnflag, count(*) AS cnt,
        |       round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "snk_partitioned_write" ->
      """SELECT lang, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "snk_file_actions" ->
      """SELECT action, CAST(4 AS BIGINT) AS files_acted,
        |       CAST(0 AS BIGINT) AS files_left, rows_read
        |FROM (VALUES ('archive'), ('delete'), ('move')) AS a(action)
        |CROSS JOIN (SELECT count(*) AS rows_read FROM supplier)
        |ORDER BY action""".stripMargin,
    "snk_compaction" ->
      """SELECT count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |       TRUE AS compacted, TRUE AS files_after_le_4
        |FROM documents""".stripMargin,
    "fn_xml_parse" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |       (o_orderpriority = '1-URGENT') AS urgent
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "fn_xml_to_json" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
        |       CAST(n_regionkey AS BIGINT) AS n_regionkey
        |FROM nation ORDER BY n_nationkey""".stripMargin,
    "fn_xml_serialize" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name AS r_name
        |FROM region ORDER BY r_regionkey""".stripMargin)
}
