package graft.sources

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.Locale

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference,
  BoundReference, Expression, GenericInternalRow, NamedExpression, XmlToStructs}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Typed decode of `from_xml` straight from the node-path reader's record
  * bytes. `readXmlNodePath` captures each record as a byte slice; a
  * PERMISSIVE `from_xml` over its `xml` column would parse that slice a
  * second time with StAX. `XmlDecodeRule` swaps a covered `from_xml` for
  * the reader's decoding twin, whose rows are decoded here while the slice
  * is still in the task's buffer.
  *
  * The decoder accepts a narrow grammar on which its rows equal Spark's
  * parser's: attributes (`_name`), `_VALUE` of a text-only element, child
  * elements into nested structs, repeated elements into arrays, and leaves
  * of type string, byte/short/int/long, float/double and boolean, with
  * Spark's field lookup (case-insensitive) and its surrounding-space trim.
  * Elements the schema does not name are skipped, their well-formedness
  * still checked. A record outside the grammar is refused and goes to the
  * matched `from_xml` itself, so every malformed-record decision stays
  * Spark's: a mismatched end tag, an entity other than the five predefined
  * ones and character references, CDATA, a comment, a PI or DOCTYPE, `\r`
  * or another control byte, `\t`/`\n` inside an attribute value, a
  * duplicate attribute, mixed content, a repeated element for a non-array
  * field, attributes on a leaf, an empty leaf, a leaf outside the strict
  * literals below, a non-ASCII name, or invalid UTF-8.
  *
  * Strict literals (after the trim): integers `-?[0-9]+` within the type
  * (a negative magnitude up to the type's maximum), floats
  * `-?[0-9]+(\.[0-9]+)?`, booleans `true`/`false`.
  */
private[graft] object XmlDecode {
  private final val KString = 0
  private final val KByte = 1
  private final val KShort = 2
  private final val KInt = 3
  private final val KLong = 4
  private final val KFloat = 5
  private final val KDouble = 6
  private final val KBool = 7

  private val AttrPrefix = "_"
  private val ValueTag = "_VALUE"
  private val WildcardCol = "xs_any"

  private def leafKind(dt: DataType): Int = dt match {
    case StringType => KString // the default collation only (`==`, not a type match)
    case ByteType => KByte
    case ShortType => KShort
    case IntegerType => KInt
    case LongType => KLong
    case FloatType => KFloat
    case DoubleType => KDouble
    case BooleanType => KBool
    case _ => -1
  }

  /** A schema field: its ordinal, leaf kind (or -1 for a struct), whether
    * it is an array, and the struct it holds. */
  private final class Field(val idx: Int, val kind: Int, val array: Boolean, val struct: Node)

  /** Fields by the bytes of their XML name, scanned in order: a struct has
    * few fields, and no String is built per element or attribute. */
  private final class Names {
    private var names = Array.empty[Array[Byte]]
    private var fields = Array.empty[Field]
    def put(name: String, f: Field): Unit = {
      names :+= name.getBytes(UTF_8); fields :+= f
    }
    def get(a: Array[Byte], s: Int, e: Int): Field = {
      var i = 0
      while (i < names.length) {
        val nm = names(i)
        if (nm.length == e - s && java.util.Arrays.equals(a, s, e, nm, 0, nm.length))
          return fields(i)
        i += 1
      }
      null
    }
  }

  /** One struct of the schema, compiled for lookup by element name and by
    * attribute name (without the prefix); `lower` holds every field name
    * lower-cased, so a name Spark would match case-insensitively but this
    * decoder does not exactly refuses the record. */
  private final class Node(val size: Int) {
    val elems = new Names
    val attrs = new Names
    val lower = new java.util.HashSet[String]
    var value: Field = null
    var arrays: Array[Int] = Array.emptyIntArray
  }

  /** The compiled schema, or None when a field lies outside the grammar. */
  private def compile(st: StructType): Option[Node] = {
    val node = new Node(st.length)
    val arrays = ArrayBuffer.empty[Int]
    val ok = st.fields.zipWithIndex.forall { case (f, i) =>
      val name = f.name
      node.lower.add(name.toLowerCase(Locale.ROOT)) && name != WildcardCol && {
        if (name.startsWith(AttrPrefix)) {
          val attr = name.substring(AttrPrefix.length)
          val k = leafKind(f.dataType)
          val low = attr.toLowerCase(Locale.ROOT)
          k >= 0 && attr.nonEmpty && low != "xmlns" && !low.startsWith("xmlns:") && {
            val fld = new Field(i, k, false, null)
            if (name == ValueTag) node.value = fld
            node.attrs.put(attr, fld)
            true
          }
        } else {
          val (dt, array) = f.dataType match {
            case ArrayType(et, _) => (et, true)
            case other => (other, false)
          }
          if (array) arrays += i
          dt match {
            case s: StructType =>
              compile(s).exists { sub => node.elems.put(name, new Field(i, -1, array, sub)); true }
            case leaf =>
              val k = leafKind(leaf)
              k >= 0 && { node.elems.put(name, new Field(i, k, array, null)); true }
          }
        }
      }
    }
    node.arrays = arrays.toArray
    if (ok) Some(node) else None
  }

  /** What a decoding task needs: the schema and the matched `from_xml`
    * with its input bound to ordinal 0, evaluated on refused records. */
  final class Spec private[XmlDecode] (val schema: StructType, fallback: Expression)
      extends Serializable {
    @transient private lazy val root: Node = compile(schema).get
    def decoder(): Decoder = new Decoder(root)
    /** Spark's own `from_xml` result for one record, copied (its parser
      * reuses the row it returns). */
    def fallbackRow(xml: UTF8String): InternalRow =
      fallback.eval(new GenericInternalRow(Array[Any](xml))) match {
        case null => null
        case r: InternalRow => r.copy()
      }
  }

  private val Options = Set("mode", "columnnameofcorruptrecord")
  private val Modes = Set("PERMISSIVE", "FAILFAST")

  /** The decode spec of one `from_xml` over the reader's `xml`, or None
    * when its schema or options fall outside the grammar: decided at plan
    * time, from the schema and options alone. */
  def specOf(x: XmlToStructs): Option[Spec] = x.dataType match {
    case st: StructType
        if x.options.keys.forall(k => Options(k.toLowerCase(Locale.ROOT))) &&
          x.options.collect { case (k, v) if k.equalsIgnoreCase("mode") => v }
            .forall(m => Modes(m.toUpperCase(Locale.ROOT))) &&
          compile(st).isDefined =>
      Some(new Spec(st, x.withNewChildren(Seq(BoundReference(0, StringType, nullable = true)))))
    case _ => None
  }

  /** Whether `a[off, off+len)` is well-formed UTF-8 (the sequences Java's
    * decoder maps without replacement). */
  def validUtf8(a: Array[Byte], off: Int, len: Int): Boolean = {
    var i = off; val end = off + len
    while (i < end) {
      val b = a(i)
      if (b >= 0) i += 1
      else {
        val n = seqLen(a, i, end)
        if (n < 0) return false
        i += n
      }
    }
    true
  }

  /** Length of the well-formed multi-byte UTF-8 sequence at `i`, or -1. */
  private def seqLen(a: Array[Byte], i: Int, end: Int): Int = {
    def cont(j: Int) = j < end && (a(j) & 0xC0) == 0x80
    val b0 = a(i) & 0xFF
    if (b0 >= 0xC2 && b0 <= 0xDF) { if (cont(i + 1)) 2 else -1 }
    else if (b0 >= 0xE0 && b0 <= 0xEF) {
      if (!cont(i + 1) || !cont(i + 2)) -1
      else {
        val b1 = a(i + 1) & 0xFF
        if (b0 == 0xE0 && b1 < 0xA0) -1 // overlong
        else if (b0 == 0xED && b1 > 0x9F) -1 // surrogate
        else 3
      }
    } else if (b0 >= 0xF0 && b0 <= 0xF4) {
      if (!cont(i + 1) || !cont(i + 2) || !cont(i + 3)) -1
      else {
        val b1 = a(i + 1) & 0xFF
        if (b0 == 0xF0 && b1 < 0x90) -1 // overlong
        else if (b0 == 0xF4 && b1 > 0x8F) -1 // above U+10FFFF
        else 4
      }
    } else -1
  }

  private def isXmlChar(c: Int): Boolean =
    c == 0x9 || c == 0xA || c == 0xD || (c >= 0x20 && c <= 0xD7FF) ||
      (c >= 0xE000 && c <= 0xFFFD) || (c >= 0x10000 && c <= 0x10FFFF)

  /** Thrown (without a stack) when a record leaves the grammar. */
  private object Refused extends RuntimeException(null, null, false, false)

  /** Decodes records of one schema; one per task (it keeps its cursor in
    * fields). */
  final class Decoder private[XmlDecode] (root: Node) {
    private var a: Array[Byte] = _
    private var n = 0
    private var p = 0
    // the last text run scanned by `text`
    private var amp = false
    private var nonWs = false
    // attribute-name bounds of the start tag being read (duplicate check)
    private var attrStarts = new Array[Int](8)
    private var attrEnds = new Array[Int](8)

    /** The record `a[0, len)` as a row of the schema, or null when the
      * record is refused. */
    def decode(bytes: Array[Byte], len: Int): InternalRow = {
      a = bytes; n = len; p = 0
      try {
        checkBytes()
        val row = new Array[Any](root.size)
        if (n < 2 || a(0) != '<') throw Refused
        p = 1
        val ns = p; name(); val ne = p
        if (!attrs(root, row, leaf = false)) content(root, row, ns, ne)
        if (p != n) throw Refused
        new GenericInternalRow(row)
      } catch { case Refused => null }
    }

    /** Every byte: well-formed UTF-8 of XML characters, no control byte
      * but `\t` and `\n`. */
    private def checkBytes(): Unit = {
      var i = 0
      while (i < n) {
        val b = a(i)
        if (b >= 0) {
          if (b < 0x20 && b != '\t' && b != '\n') throw Refused
          i += 1
        } else {
          val k = seqLen(a, i, n)
          // U+FFFE and U+FFFF are not XML characters
          if (k < 0 || (k == 3 && a(i) == 0xEF.toByte && a(i + 1) == 0xBF.toByte &&
              (a(i + 2) & 0xFE) == 0xBE)) throw Refused
          i += k
        }
      }
    }

    private def at(i: Int): Char = if (i < n) a(i).toChar else throw Refused

    private def isWs(b: Int) = b == ' ' || b == '\n' || b == '\t'

    private def skipWs(): Boolean = {
      val s = p
      while (p < n && isWs(a(p))) p += 1
      p > s
    }

    /** An ASCII name `[A-Za-z_][A-Za-z0-9._:-]*` at p. */
    private def name(): Unit = {
      val c = at(p)
      if (!((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || c == '_')) throw Refused
      p += 1
      while (p < n && {
        val d = a(p)
        (d >= 'a' && d <= 'z') || (d >= 'A' && d <= 'Z') || (d >= '0' && d <= '9') ||
          d == '_' || d == '.' || d == ':' || d == '-'
      }) p += 1
    }

    private def ascii(s: Int, e: Int) = new String(a, s, e - s, ISO_8859_1)

    /** The attributes of a start tag up to its `>`; returns whether it
      * self-closes. Values land in `row` through `node` (null: validate
      * only); with `leaf`, any attribute refuses the record. */
    private def attrs(node: Node, row: Array[Any], leaf: Boolean): Boolean = {
      var count = 0
      while (true) {
        val sep = skipWs()
        at(p) match {
          case '>' => p += 1; return false
          case '/' =>
            if (at(p + 1) != '>') throw Refused
            p += 2; return true
          case _ =>
            if (!sep || leaf) throw Refused
            val ns = p; name(); val ne = p
            var k = 0
            while (k < count) {
              if (java.util.Arrays.equals(a, ns, ne, a, attrStarts(k), attrEnds(k))) throw Refused
              k += 1
            }
            if (count == attrStarts.length) {
              attrStarts = java.util.Arrays.copyOf(attrStarts, count * 2)
              attrEnds = java.util.Arrays.copyOf(attrEnds, count * 2)
            }
            attrStarts(count) = ns; attrEnds(count) = ne; count += 1
            skipWs()
            if (at(p) != '=') throw Refused
            p += 1; skipWs()
            val q = at(p)
            if (q != '"' && q != '\'') throw Refused
            p += 1
            val vs = p; var vAmp = false
            while (at(p) != q) {
              val b = a(p)
              if (b == '<' || b == '\t' || b == '\n') throw Refused
              if (b == '&') { entity(null); vAmp = true } else p += 1
            }
            val ve = p
            p += 1
            if (node != null) {
              val f = node.attrs.get(a, ns, ne)
              if (f == null) {
                if (node.lower.contains((AttrPrefix + ascii(ns, ne)).toLowerCase(Locale.ROOT)))
                  throw Refused
              } else if (f eq node.value) throw Refused
              else row(f.idx) = leafValue(f.kind, vs, ve, vAmp)
            }
        }
      }
      false
    }

    /** The reference at p (`&`): a predefined entity or a character
      * reference to an XML character; appended to `sb` unless null. */
    private def entity(sb: java.lang.StringBuilder): Unit = {
      p += 1
      if (at(p) == '#') {
        p += 1
        val hex = at(p) == 'x'
        if (hex) p += 1
        var cp = 0; val s = p
        while (at(p) != ';') {
          val d = Character.digit(a(p), if (hex) 16 else 10)
          if (d < 0 || a(p) < 0) throw Refused
          cp = cp * (if (hex) 16 else 10) + d
          if (cp > 0x10FFFF) throw Refused
          p += 1
        }
        if (p == s || !isXmlChar(cp)) throw Refused
        p += 1
        if (sb != null) sb.appendCodePoint(cp)
      } else {
        val s = p
        while (at(p) != ';') p += 1
        val c = (p - s) match {
          case 2 if a(s) == 'l' && a(s + 1) == 't' => '<'
          case 2 if a(s) == 'g' && a(s + 1) == 't' => '>'
          case 3 if a(s) == 'a' && a(s + 1) == 'm' && a(s + 2) == 'p' => '&'
          case 4 if ascii(s, p) == "quot" => '"'
          case 4 if ascii(s, p) == "apos" => '\''
          case _ => throw Refused
        }
        p += 1
        if (sb != null) sb.append(c)
      }
    }

    /** The text run from p to the next `<` (which must exist): entities
      * checked, `]]>` refused; sets `amp` and `nonWs`. */
    private def text(): Unit = {
      amp = false; nonWs = false
      while (at(p) != '<') {
        val b = a(p)
        if (b == '&') { entity(null); amp = true; nonWs = true }
        else {
          if (!isWs(b)) nonWs = true
          if (b == '>' && p >= 2 && a(p - 1) == ']' && a(p - 2) == ']') throw Refused
          p += 1
        }
      }
    }

    /** The end tag at p (`</`), which must close the element named
      * `a[ns, ne)`. */
    private def endTag(ns: Int, ne: Int): Unit = {
      p += 2
      val s = p; name()
      if (!java.util.Arrays.equals(a, s, p, a, ns, ne)) throw Refused
      skipWs()
      if (at(p) != '>') throw Refused
      p += 1
    }

    /** The content of a struct element (or the root) after its start tag,
      * through its end tag. */
    private def content(node: Node, row: Array[Any], ns: Int, ne: Int): Unit = {
      var sawChild = false
      var runs = 0; var ts = 0; var te = 0; var tAmp = false
      var open = true
      while (open) {
        val s = p
        text()
        if (nonWs) { runs += 1; ts = s; te = p; tAmp = amp }
        at(p + 1) match {
          case '/' => endTag(ns, ne); open = false
          case '!' | '?' => throw Refused
          case _ => sawChild = true; child(node, row)
        }
      }
      if (runs > 0) {
        if (sawChild || runs > 1) throw Refused // mixed content
        if (node.value != null) row(node.value.idx) = leafValue(node.value.kind, ts, te, tAmp)
      }
      val arrs = node.arrays
      var i = 0
      while (i < arrs.length) {
        row(arrs(i)) match {
          case b: ArrayBuffer[_] => row(arrs(i)) = new GenericArrayData(b.toArray[Any])
          case _ =>
        }
        i += 1
      }
    }

    /** One child element at p (`<`) of a struct. */
    private def child(node: Node, row: Array[Any]): Unit = {
      p += 1
      val ns = p; name(); val ne = p
      val f = node.elems.get(a, ns, ne)
      if (f == null) {
        if (node.lower.contains(ascii(ns, ne).toLowerCase(Locale.ROOT))) throw Refused
        if (!attrs(null, null, leaf = false)) skip(ns, ne)
      } else if (f.struct != null) {
        val sub = new Array[Any](f.struct.size)
        if (!attrs(f.struct, sub, leaf = false)) content(f.struct, sub, ns, ne)
        put(row, f, new GenericInternalRow(sub))
      } else {
        if (attrs(null, null, leaf = true)) throw Refused // empty leaf
        val s = p
        text()
        if (at(p + 1) != '/') throw Refused
        val v = leafValue(f.kind, s, p, amp)
        endTag(ns, ne)
        put(row, f, v)
      }
    }

    private def put(row: Array[Any], f: Field, v: Any): Unit =
      if (f.array) row(f.idx) match {
        case null => row(f.idx) = ArrayBuffer[Any](v)
        case b: ArrayBuffer[Any @unchecked] => b += v
        case _ => throw Refused
      }
      else if (row(f.idx) != null) throw Refused // repeated non-array element
      else row(f.idx) = v

    /** The content of an element the schema does not name, validated
      * through its end tag. */
    private def skip(ns: Int, ne: Int): Unit = {
      var open = true
      while (open) {
        text()
        at(p + 1) match {
          case '/' => endTag(ns, ne); open = false
          case '!' | '?' => throw Refused
          case _ =>
            p += 1
            val cs = p; name(); val ce = p
            if (!attrs(null, null, leaf = false)) skip(cs, ce)
        }
      }
    }

    /** The leaf value of `a[s, e)` (entities decoded when `hasAmp`),
      * trimmed as Spark trims it, in its strict literal form. */
    private def leafValue(kind: Int, s0: Int, e0: Int, hasAmp: Boolean): Any = {
      var src = a; var s = s0; var e = e0
      if (hasAmp) {
        val sb = new java.lang.StringBuilder(e - s)
        val saved = p
        p = s
        while (p < e) {
          if (a(p) == '&') entity(sb)
          else {
            var q = p
            while (q < e && a(q) != '&') q += 1
            sb.append(new String(a, p, q - p, UTF_8))
            p = q
          }
        }
        p = saved
        val str = sb.toString.trim
        if (str.isEmpty) throw Refused
        if (kind == KString) return UTF8String.fromString(str)
        src = str.getBytes(UTF_8); s = 0; e = src.length
      } else {
        while (s < e && isWs(src(s))) s += 1
        while (e > s && isWs(src(e - 1))) e -= 1
        if (s == e) throw Refused
        if (kind == KString)
          return UTF8String.fromBytes(java.util.Arrays.copyOfRange(src, s, e))
      }
      kind match {
        case KLong => integer(src, s, e, Long.MaxValue)
        case KInt => integer(src, s, e, Int.MaxValue).toInt
        case KShort => integer(src, s, e, Short.MaxValue).toShort
        case KByte => integer(src, s, e, Byte.MaxValue).toByte
        case KDouble => decimal(src, s, e).toDouble
        case KFloat => decimal(src, s, e).toFloat
        case KBool =>
          val t = new String(src, s, e - s, ISO_8859_1)
          if (t == "true") true else if (t == "false") false else throw Refused
      }
    }

    private def integer(b: Array[Byte], s: Int, e: Int, max: Long): Long = {
      val neg = b(s) == '-'
      var i = if (neg) s + 1 else s
      if (i == e) throw Refused
      var v = 0L
      while (i < e) {
        val d = b(i) - '0'
        if (d < 0 || d > 9 || v > (max - d) / 10) throw Refused
        v = v * 10 + d
        i += 1
      }
      if (neg) -v else v
    }

    /** `-?[0-9]+(\.[0-9]+)?` as a string for Java's parser. */
    private def decimal(b: Array[Byte], s: Int, e: Int): String = {
      var i = if (b(s) == '-') s + 1 else s
      def digits(): Unit = {
        val d0 = i
        while (i < e && b(i) >= '0' && b(i) <= '9') i += 1
        if (i == d0) throw Refused
      }
      digits()
      if (i < e && b(i) == '.') { i += 1; digits() }
      if (i != e) throw Refused
      new String(b, s, e - s, ISO_8859_1)
    }
  }
}

/** Swaps `from_xml(xml, schema, opts)` over `Xml.readXmlNodePath`'s
  * output for the reader's decoding twin. It matches a `Project` directly
  * over the reader's relation in which `xml` is read only as the input of
  * `from_xml` nodes that share one schema, options and time zone, and
  * whose schema and options the decoder covers (`XmlDecode.specOf`). The
  * twin's single output is `from_xml`'s type; where the expression was
  * aliased, the output reuses the alias's ExprId, so references above stay
  * bound. Anything else keeps `from_xml`: a node in between, `xml` also
  * read directly, a streaming relation. `readXmlNodePath` registers the
  * rule in its session's extra optimizations; it is inert on any other
  * plan.
  */
private[graft] object XmlDecodeRule extends Rule[LogicalPlan] {
  def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(list, lr: LogicalRDD) if !lr.isStreaming => lr.rdd match {
      case rdd: Xml.NodePathRDD if rdd.decode.isEmpty => decoded(list, lr, rdd).getOrElse(p)
      case _ => p
    }
  }

  private def decoded(list: Seq[NamedExpression], lr: LogicalRDD,
      rdd: Xml.NodePathRDD): Option[LogicalPlan] = {
    val xml = lr.output.head
    def readsXml(x: XmlToStructs) = x.child match {
      case a: Attribute => a.exprId == xml.exprId
      case _ => false
    }
    val uses = list.flatMap(_.collect { case x: XmlToStructs if readsXml(x) => x })
    if (uses.isEmpty || uses.map(x => (x.schema, x.options, x.timeZoneId)).distinct.size != 1)
      return None
    XmlDecode.specOf(uses.head).flatMap { spec =>
      val attr = list.collectFirst { case a @ Alias(x: XmlToStructs, _) if readsXml(x) => a } match {
        case Some(a) => AttributeReference(a.name, spec.schema, nullable = true, a.metadata)(
          a.exprId, a.qualifier)
        case None => AttributeReference("xml", spec.schema, nullable = true)()
      }
      val out = list.map {
        case a: Alias if a.exprId == attr.exprId => attr
        case e => e.transformUp {
          case x: XmlToStructs if readsXml(x) => attr
        }.asInstanceOf[NamedExpression]
      }
      if (out.exists(_.references.contains(xml))) None
      else Some(Project(out, GraftSqlBridge.withRdd(lr, Seq(attr), rdd.decoding(spec))))
    }
  }
}
