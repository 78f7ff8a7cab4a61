package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}

/** Round-15 pins. (1) String cstats bounds are TRUNCATED Iceberg-style
  * (round-14 verdict missing #1): untruncated min/max of a wide text
  * column — the `documents.text` LLM-corpus shape — embed two whole
  * documents per manifest entry, and at O(50k) entries that bloats the
  * metadata tier Round14Probe (now in git history) proved fast from MBs
  * into GBs. The lower bound truncates to a ≤16-code-point prefix (≤ the value under UTF-8
  * order by construction); the upper truncates then INCREMENTS its last
  * code point (≥ the value: the first differing position carries the
  * larger code point, and UTF-8 encodes code-point order), skipping the
  * surrogate gap and carrying past U+10FFFF; only an all-U+10FFFF
  * prefix keeps the full value. Pruning consumers are overlap checks
  * under u8Cmp, so wider bounds stay sound — no false prune possible.
  *
  * (2) The V2 SQL-INSERT writer's RUNNING min/max now picks bounds in
  * UTF-8 binary order (UTF8String.binaryCompare), not Java UTF-16 order
  * — the WRITE-side twin of the round-14 read-side u8Cmp routing. The
  * old `v < cMin` String compare could stamp a max BELOW a
  * supplementary-plane value actually present in the file (UTF-16
  * orders BMP [U+E000,U+FFFF] above surrogates), and an equality probe
  * for that value then wrongly PRUNED the file — missing rows, the same
  * defect class r13's advisor found on the read side.
  */
class Round15Spec extends AnyFunSuite {
  import TestSpark._

  private val supp = new String(Character.toChars(0x10000)) // U+10000
  private val bmpHi = "" // private-use BMP, above surrogates in UTF-16

  test("truncBound min/max: prefix, increment, surrogate gap, carry, fallback") {
    val L = Acid.CStatsBoundLen
    // short values pass through verbatim — exact bounds for dimension cols
    assert(Acid.truncBoundMin("abc") === "abc")
    assert(Acid.truncBoundMax("abc") === "abc")
    val iso = "2024-01-01"
    assert(Acid.truncBoundMax(iso) === iso, "ISO dates are under the budget")
    // long value: min is the 16-cp prefix, ≤ the value; max is ≥ it
    val long = "a" * 40
    val mn = Acid.truncBoundMin(long); val mx = Acid.truncBoundMax(long)
    assert(mn === "a" * L && Acid.u8Cmp(mn, long) <= 0)
    assert(mx === "a" * (L - 1) + "b" && Acid.u8Cmp(mx, long) >= 0)
    // multi-byte text truncates on code points, never mid-sequence
    val uni = "héllo wörld — ünïcode beyond the budget"
    val uMn = Acid.truncBoundMin(uni); val uMx = Acid.truncBoundMax(uni)
    assert(uMn.codePointCount(0, uMn.length) === L)
    assert(Acid.u8Cmp(uMn, uni) <= 0 && Acid.u8Cmp(uMx, uni) >= 0)
    assert(uMn.getBytes("UTF-8").length <= 4 * L)
    assert(uMx.getBytes("UTF-8").length <= 4 * L)
    // increment landing in the surrogate gap skips to U+E000 (a naive
    // +1 from U+D7FF yields an unpaired surrogate String.getBytes
    // mangles to '?', which would order BELOW the value it must bound)
    val gap = "g" * (L - 1) + "퟿" + "tail beyond the budget"
    val gMx = Acid.truncBoundMax(gap)
    assert(gMx === "g" * (L - 1) + bmpHi, "increment must skip surrogates")
    assert(Acid.u8Cmp(gMx, gap) >= 0)
    // a max-code-point tail carries into the previous position
    val top = new String(Character.toChars(Character.MAX_CODE_POINT))
    val carry = "c" * (L - 1) + top + "tail"
    assert(Acid.truncBoundMax(carry) === "c" * (L - 2) + "d",
      "carry drops the saturated position and increments the previous")
    // every position saturated: keep the full value (still a sound bound)
    val allTop = top * (L + 4)
    assert(Acid.truncBoundMax(allTop) === allTop)
    assert(Acid.truncBoundMin(allTop) === top * L)
  }

  test("wide text columns stamp bounded manifest bounds; pruning stays exact") {
    import spark.implicits._
    val root = Scratch.fresh("r15_trunc_stamp", sf)
    val dir = s"$root/t"
    // documents-shaped: multi-KB text per row, two files by key range —
    // file A texts start 'd...', file B texts start 'x...'
    val doc = (tag: String, k: Long) => tag + ("lorem ipsum " * 400) + k
    val rows = (0L until 20L).map(k => (k, doc(if (k < 10) "d" else "x", k)))
    Acid.create(spark, dir, rows.toDF("k", "text"), "k", 2)
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.size === 2)
    // (a) entry size stays bounded: no stamped bound exceeds the 4x16-byte
    // worst case — a ~5 KB document must never land in the manifest
    m.files.foreach { f =>
      val cs = f.cstats.find(_._1 == "text")
      assert(cs.isDefined, s"text must be stamped: ${f.cstats.map(_._1)}")
      cs.foreach { case (_, lo, hi) =>
        assert(lo.getBytes("UTF-8").length <= 4 * Acid.CStatsBoundLen &&
          hi.getBytes("UTF-8").length <= 4 * Acid.CStatsBoundLen,
          s"bounds must truncate: ${lo.length}/${hi.length} chars")
        assert(Acid.u8Cmp(lo, hi) <= 0)
      }
    }
    // (b) a point probe for a PRESENT multi-KB value scans its file —
    // truncation can only widen bounds, never false-prune
    val probe = doc("d", 3L)
    val (df1, sc1, tot1) = Acid.scanColRange(spark, dir, "text", probe, probe)
    assert(df1.count() === 1L, "present value must survive truncated bounds")
    assert(tot1 === 2 && sc1 === 1, s"the 'x' file must still prune: $sc1/$tot1")
    // (c) a probe past every truncated upper bound prunes everything
    val (dfZ, scZ, totZ) = Acid.scanColRange(spark, dir, "text", "zzz", "zzz")
    assert(dfZ.count() === 0L && totZ === 2 && scZ === 0,
      s"out-of-range probe must prune all files: $scZ/$totZ")
    // V2 path over the same table: pushed equality composes with the
    // truncated stamps identically
    val q = spark.read.format("graft-acid-sql").load(dir)
      .filter(col("text") === probe)
    assert(q.count() === 1L)
    val (scanned, total) = AcidSql.lastScanFor(dir)
    assert(total === 2 && scanned === 1, s"V2 prune on truncated: $scanned/$total")
  }

  test("V2 INSERT: truncated stamps + UTF-8 write-side min/max pick") {
    val root = Scratch.fresh("r15_v2_trunc", sf)
    val cat = "r15tr"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, text STRING)")
    // INSERT #1 (file A): wide text rows PLUS one supplementary-plane
    // value and one BMP-high value — the UTF-16-vs-UTF-8 discriminator.
    // Pre-fix the running max picked bmpHi-prefixed (UTF-16 order) and a
    // probe for supp pruned the file; post-fix the UTF-8 max is supp.
    import spark.implicits._
    (Seq((1L, supp), (2L, bmpHi + "-high-bmp")) ++
      (3L until 10L).map(k => (k, "doc " + ("body " * 500) + k)))
      .toDF("k", "text").coalesce(1).createOrReplaceTempView("r15_v2_a")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM r15_v2_a")
    // INSERT #2 (file B): plain ASCII, must prune under the supp probe
    (10L until 20L).map(k => (k, s"ascii-$k")).toDF("k", "text")
      .coalesce(1).createOrReplaceTempView("r15_v2_b")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM r15_v2_b")
    val dir = s"$root/t"
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.size === 2)
    // stamps truncate on the SQL-writer path too, and file A's UTF-8 max
    // is the supplementary value (1 code point — untouched by truncation)
    val fA = m.files.minBy(_.minKey)
    val csA = fA.cstats.find(_._1 == "text")
    assert(csA.exists { case (_, mn, mx) =>
      mx == supp && mn.getBytes("UTF-8").length <= 4 * Acid.CStatsBoundLen },
      s"file A must stamp the UTF-8 max and truncated min: $csA")
    m.files.foreach(_.cstats.foreach { case (_, lo, hi) =>
      assert(lo.getBytes("UTF-8").length <= 4 * Acid.CStatsBoundLen &&
        hi.getBytes("UTF-8").length <= 4 * Acid.CStatsBoundLen)
    })
    // the probe that exposed the UTF-16 pick: exactly one row, one file
    val got = spark.sql(s"SELECT k FROM $cat.t WHERE text = '$supp'").collect()
    assert(got.map(_.getLong(0)).toSeq === Seq(1L),
      "pre-fix the UTF-16 running max pruned file A: missing rows")
    val (s1, t1) = AcidSql.lastScanFor(dir)
    assert(t1 === 2 && s1 === 1, s"ASCII file must prune: $s1/$t1")
    // a present wide value still probes exactly (truncation never
    // false-prunes on the writer path either)
    val wideProbe = "doc " + ("body " * 500) + 5L
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE text = '$wideProbe'")
      .head.getLong(0) === 1L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  /** (6) Prefix predicates now bound BOTH sides of the cstats envelope
    * (round-15): every p-prefixed string sits in [p, incrementBound(p)),
    * so `LIKE 'p%'` prunes files ABOVE the prefix range too — the old
    * low-side-only envelope kept every file from the prefix upward. */
  test("prefix predicates bound both sides; LIKE prunes above the prefix") {
    import org.apache.spark.sql.sources.{Filter, StringStartsWith}
    val got = AcidSql.cstatsBounds(Array[Filter](StringStartsWith("c", "C0004")))
    assert(got === Map("c" -> (Some("C0004"), Some("C0005"))), s"$got")
    // surrogate-gap and saturated prefixes keep the envelope sound
    assert(Acid.incrementBound("a퟿") === Some("a" + bmpHi))
    val top = new String(Character.toChars(Character.MAX_CODE_POINT))
    assert(Acid.incrementBound(top * 3) === None)
    assert(Acid.incrementBound("a" + top) === Some("b"))
    // e2e over the V2 scan: monotone code column, 8 range files — the
    // old envelope scanned the prefix file AND the whole tail
    val root = Scratch.fresh("r15_prefix_prune", sf)
    val dir = s"$root/t"
    val t = spark.range(800).select(col("id").as("k"),
      concat(lit("C"), lpad(col("id").cast("string"), 6, "0")).as("code"),
      (col("id") * 3).as("v"))
    Acid.create(spark, dir, t, "k", 8)
    val q = spark.read.format("graft-acid-sql").load(dir)
      .filter(col("code").startsWith("C0004"))
    assert(q.count() === 100L)
    val (s1, t1) = AcidSql.lastScanFor(dir)
    assert(t1 === 8 && s1 === 1,
      s"two-sided prefix envelope must prune to one file: $s1/$t1")
  }

  /** (7) Scattered string IN probes prune PER VALUE (round-15): the
    * envelope reduces `c IN (a, z)` to [a, z] and keeps every file in
    * between; the per-value pass keeps a file only when SOME probe lands
    * inside its stamped range. Shared by the V2 scan and V1 relation. */
  test("scattered string IN prunes per value, not by envelope") {
    import org.apache.spark.sql.sources.{Filter, In}
    val got = AcidSql.cstatsInProbes(Array[Filter](In("c", Array("a", "z"))))
    assert(got === Map("c" -> Seq(Seq("a", "z"))), s"$got")
    // beyond the 64-value cap the set is dropped (envelope still applies)
    assert(AcidSql.cstatsInProbes(Array[Filter](
      In("c", (0 to 64).map(_.toString).toArray))).isEmpty)
    val root = Scratch.fresh("r15_in_prune", sf)
    val dir = s"$root/t"
    val t = spark.range(800).select(col("id").as("k"),
      concat(lit("C"), lpad(col("id").cast("string"), 6, "0")).as("code"),
      (col("id") * 3).as("v"))
    Acid.create(spark, dir, t, "k", 8)
    // first and last file only — the envelope alone keeps all 8
    val q = spark.read.format("graft-acid-sql").load(dir)
      .filter(col("code").isin("C000050", "C000750"))
    assert(q.count() === 2L)
    val (s1, t1) = AcidSql.lastScanFor(dir)
    assert(t1 === 8 && s1 === 2, s"per-value IN pruning: $s1/$t1")
    val v1 = spark.read.format("graft-acid").load(dir)
      .filter(col("code").isin("C000050", "C000750"))
    assert(v1.count() === 2L)
    assert(AcidRelation.lastScanFor(dir) === ((2, 8)),
      s"V1 per-value IN pruning: ${AcidRelation.lastScanFor(dir)}")
  }

  /** (5) The V1 `graft-acid` relation now prunes on string/date cstats
    * like the V2 scan and scanColRange (round-15 parity): pushed
    * predicates on stamped columns drop files manifest-side, residual
    * filters keep results exact, and the supplementary-plane probe that
    * exposed the UTF-16 bugs stays un-pruned here too. */
  test("V1 relation prunes on string cstats; UTF-8 probe survives") {
    import spark.implicits._
    val root = Scratch.fresh("r15_v1_cstats", sf)
    val dir = s"$root/t"
    val rows = (0L until 20L).map { k =>
      val c = if (k >= 10) f"zz$k%03d" else if (k == 1) supp else bmpHi + k
      (k, c)
    }
    Acid.create(spark, dir, rows.toDF("k", "c"), "k", 2)
    val v1 = spark.read.format("graft-acid").load(dir)
    // string point probe prunes to the one matching file
    assert(v1.filter(col("c") === "zz015").count() === 1L)
    assert(AcidRelation.lastScanFor(dir) === ((1, 2)),
      s"string probe must prune: ${AcidRelation.lastScanFor(dir)}")
    // the supplementary-plane value must not be pruned away (UTF-8 order)
    assert(v1.filter(col("c") === supp).count() === 1L)
    assert(AcidRelation.lastScanFor(dir) === ((1, 2)))
    // range predicate spanning both files keeps both
    assert(v1.filter(col("c") >= "a").count() === 20L)
    assert(AcidRelation.lastScanFor(dir)._1 === 2)
  }

  /** (8) Metadata-answered aggregate pushdown (round-15): unfiltered
    * count(*)/min(key)/max(key) over a V2 catalog table answer from the
    * manifest with ZERO parquet opens; ANY deletion vector flips every
    * push back to a real scan — min/max because a vector may hold the
    * extreme row, count(*) because a sidecar's stamped count is the
    * sidecar TOTAL shared by every referencing entry (after a merge
    * materializes some of them, metadata arithmetic overcounts — found
    * live by AcidSpec when the push first subtracted sidecars); a
    * filtered aggregate never pushes. */
  test("aggregate pushdown: manifest answers, DV and filter guards hold") {
    val root = Scratch.fresh("r15_aggpd", sf)
    val cat = "r15ag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = s"$root/t"
    import spark.implicits._
    Acid.create(spark, dir,
      spark.range(1000L).select((col("id") + 5).as("k"), col("id").as("v")),
      "k", 4)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing") // catalog init
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM $cat.t")
    val r = q.collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((1000L, 5L, 1004L)))
    assert(AcidSql.vecRowsFooter.sum() === 0L && AcidSql.rowGroupsRead.sum() === 0L,
      "manifest-answered aggregate must open no data file")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "plan must show the pushed aggregate scan")
    // filtered aggregate must NOT push — exact results through the scan
    val rf = spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE k <= 104").head
    assert(rf.getLong(0) === 100L)
    // count(col): a stamped string column answers from rows − nullCount;
    // so does a LONG column since round-16's numeric nulls, and a DOUBLE
    // column since round-16's float tier (each capability superseded the
    // previous refusal pin; the refusal now lives on BOOLEAN, which no
    // stats tier stamps)
    val dir2 = s"$root/t2"
    Acid.create(spark, dir2, spark.range(1000L).select(col("id").as("k"),
      col("id").as("v"), (col("id") / 10.0).as("ratio"),
      (col("id") % 2 === 0).as("flag"),
      when(col("id") % 5 === 0, lit(null)).otherwise(lit("x")).as("tag")),
      "k", 4)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing2") // catalog refresh
    AcidSql.resetRowGroupMetrics()
    val qc = spark.sql(s"SELECT count(tag) AS n FROM $cat.t2")
    assert(qc.head.getLong(0) === 800L)
    assert(AcidSql.vecRowsFooter.sum() === 0L &&
      qc.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "count(stamped col) must answer from rows - nullCount")
    val qv = spark.sql(s"SELECT count(v) AS n FROM $cat.t2")
    assert(qv.head.getLong(0) === 1000L)
    assert(qv.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "count(numeric col) answers from the round-16 numeric nullCounts")
    val qr = spark.sql(s"SELECT count(ratio) AS n FROM $cat.t2")
    assert(qr.head.getLong(0) === 1000L)
    assert(qr.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "count(double col) answers from the round-16 float-tier nullCounts")
    val qb = spark.sql(s"SELECT count(flag) AS n FROM $cat.t2")
    assert(qb.head.getLong(0) === 1000L)
    assert(!qb.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "count(unstamped boolean col) must refuse the push and scan")
    // a DV delete: counting pushes SUBTRACT the per-file stamps (the
    // round-17 capability superseding this pin's original snapshot-wide
    // refusal — recorded in SURVEY §6.17); value folds still refuse
    Acid.deleteWhereMor(spark, dir, col("k") === 5L || col("k") === 1004L,
      None, "w"): Unit
    AcidSql.resetRowGroupMetrics()
    val qDv = spark.sql(s"SELECT count(*) AS n FROM $cat.t")
    assert(qDv.head.getLong(0) === 998L,
      "DV count must be exact (per-file dvRows stamps, never the shared " +
        "sidecar total)")
    assert(qDv.queryExecution.executedPlan.toString.contains("manifest-aggregate") &&
      AcidSql.vecRowsFooter.sum() === 0L,
      "count(*) over a r17-stamped DV table answers from the manifest")
    val q2Dv = spark.sql(s"SELECT min(k) AS lo, max(k) AS hi FROM $cat.t")
    val r2 = q2Dv.head
    assert((r2.getLong(0), r2.getLong(1)) === ((6L, 1003L)),
      "DV-deleted extremes must not surface from stale manifest bounds")
    assert(!q2Dv.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "min/max over a DV'd file set must still refuse — the vector may " +
        "have deleted the extreme rows (it did)")
    // OPTIMIZE materializes the DVs away and re-enables the push
    Acid.optimize(spark, dir, 2): Unit
    AcidSql.resetRowGroupMetrics()
    assert(spark.sql(s"SELECT count(*) AS n FROM $cat.t").head.getLong(0) === 998L)
    assert(AcidSql.vecRowsFooter.sum() === 0L && AcidSql.rowGroupsRead.sum() === 0L,
      "post-OPTIMIZE count must be metadata-answered again")
    // time travel: the pushed aggregate answers from the PINNED version's
    // manifest — v0 predates the delete and the optimize
    val qv0 = spark.sql(s"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi " +
      s"FROM $cat.t VERSION AS OF 0")
    val rv0 = qv0.head
    assert((rv0.getLong(0), rv0.getLong(1), rv0.getLong(2)) === ((1000L, 5L, 1004L)),
      "time-travel push must read the pinned manifest, not the latest")
    assert(qv0.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  /** (4) The put-if-absent link fallback triggers ONLY on
    * link-incapability (r14 advice), detected by a CAPABILITY PROBE of
    * the real target directory, not by matching strerror text (r15
    * advice — reason strings are locale-dependent, so an English
    * substring match missed a genuine EPERM/EXDEV on a non-English JVM
    * and the commit errored where it should have degraded). The probe
    * verdict is what classifies: the SAME exception text degrades on a
    * probed-incapable directory and surfaces on a capable one. */
  test("link fallback probe: capability verdict classifies, not locale text") {
    import java.nio.file.{FileSystemException, Files}
    val d = Files.createTempDirectory("r15lnk")
    // the local filesystem hard-links: probe says capable
    Acid.seedLinkCapability(d, None)
    assert(Acid.probeLinkCapable(d), "tmpfs/ext4 must probe link-capable")
    // an unmatched-locale EPERM (German strerror) on a capable directory
    // SURFACES; the same exception on a probed-incapable one DEGRADES
    val german = new FileSystemException("f", "t", "Vorgang nicht zulässig")
    assert(!Acid.linkDegrades(german, d),
      "capable directory: even an EPERM-shaped failure must surface")
    val dBad = d.resolve("claims-no-links")
    Files.createDirectory(dBad)
    Acid.seedLinkCapability(dBad, Some(false))
    assert(Acid.linkDegrades(german, dBad),
      "incapable directory: any locale's failure text degrades to move")
    // EEXIST is the put-if-absent conflict signal — never degrades,
    // whatever the probe says
    assert(!Acid.linkDegrades(
      new java.nio.file.FileAlreadyExistsException("f", "t", null), dBad))
    // the JDK's own no-links signal degrades without any probe
    assert(Acid.linkDegrades(new UnsupportedOperationException, d))
    // non-filesystem failures never degrade
    assert(!Acid.linkDegrades(new RuntimeException("boom"), dBad))
    // verdicts are cached per directory: one probe, no per-commit cost
    assert(Acid.probeLinkCapable(d) && !Acid.probeLinkCapable(dBad))
    Acid.seedLinkCapability(dBad, None)
    Acid.seedLinkCapability(d, None): Unit
  }

  /** (3) The rewrite-bloom row floor now covers INSERT-ONLY merges
    * (round-14 verdict missing #4): with no touched files the old hint
    * was None and the else-branch built an adaptive bloom however tiny
    * the batch — a 50-row streaming insert still paid the build. The
    * per-file estimate now folds in the incoming batch's plan-stats row
    * estimate (never an extra job), so a sub-floor insert-only commit
    * skips the bloom while a large one keeps it. */
  test("bloom floor covers insert-only merges: tiny skips, large keeps") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = Scratch.fresh("r15_bloom_insert", sf)
    val hc = spark.sparkContext.hadoopConfiguration
    def newFileOffsets(dir: String,
        batch: org.apache.spark.sql.DataFrame): Seq[Long] = {
      val before = Acid.readManifest(dir, Acid.latestVersion(dir))
        .files.map(_.path).toSet
      // dictionary off for k (Round13/14Spec convention): a fully-dict-
      // encoded chunk legitimately skips the bloom
      val saved = Option(hc.get("parquet.enable.dictionary#k"))
      hc.set("parquet.enable.dictionary#k", "false")
      try assert(!Acid.merge(spark, dir, batch, "w").skipped)
      finally saved.fold(hc.unset("parquet.enable.dictionary#k"))(
        hc.set("parquet.enable.dictionary#k", _))
      val m = Acid.readManifest(dir, Acid.latestVersion(dir))
      val fresh = m.files.filterNot(f => before(f.path))
      assert(fresh.nonEmpty, "insert-only merge must land a new file")
      fresh.flatMap { f =>
        val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/${f.path}"), hc))
        try fr.getFooter.getBlocks.asScala.toSeq.map(
          _.getColumns.asScala.find(_.getPath.toDotString == "k")
            .get.getBloomFilterOffset)
        finally fr.close()
      }
    }
    // keys far beyond every file range → touched is EMPTY both times
    val tiny = s"$root/tiny"
    Acid.create(spark, tiny,
      spark.range(1000L).select(col("id").as("k"), lit(1L).as("v")), "k", 2)
    val offT = newFileOffsets(tiny, Seq((500000L, -1L)).toDF("k", "v"))
    assert(offT.forall(_ < 0),
      s"sub-floor insert-only merge must not build a bloom: $offT")
    val big = s"$root/big"
    Acid.create(spark, big,
      spark.range(1000L).select(col("id").as("k"), lit(1L).as("v")), "k", 2)
    val offB = newFileOffsets(big, spark.range(500000L, 530000L)
      .select(col("id").as("k"), lit(-1L).as("v")))
    assert(offB.forall(_ >= 0),
      s"above-floor insert-only merge must keep the bloom: $offB")
    // r14 advice shape: a LARGE insert batch landing on SMALL touched
    // files — the pre-image average (500 rows) sat under the floor, so
    // the old gate skipped blooms on rewritten files that end up large;
    // folding the batch estimate in keeps them
    val skew = s"$root/skew"
    Acid.create(spark, skew,
      spark.range(1000L).select(col("id").as("k"), lit(1L).as("v")), "k", 2)
    val offS = newFileOffsets(skew, spark.range(0L, 30000L)
      .select((col("id") * 16).as("k"), lit(-1L).as("v")))
    assert(offS.forall(_ >= 0),
      s"large batch onto small touched files must keep the bloom: $offS")
  }
}
