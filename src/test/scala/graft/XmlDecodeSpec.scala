package graft

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XmlToStructs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Xml, XmlDecode, XmlDecodeRule}

/** The node-path reader's typed decode (`XmlDecode`, swapped in by
  * `XmlDecodeRule`) against its oracle, Spark's own `from_xml` over the
  * same record strings: both plans return the same rows (`exceptAll` both
  * ways plus a row count) on the `src_xml_*` fixture shapes, Round7Spec's
  * hazard catalogs, the loopbench feed shape and a seeded feed that puts
  * one refused construct into each record. Plan pins: the rule runs in a
  * session with no `spark.sql.extensions`, and uncovered plans keep
  * `from_xml`.
  */
class XmlDecodeSpec extends AnyFunSuite {
  import TestSpark._
  import XmlDecodeSpec._

  private val permissive =
    Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt_record")

  private def feed(files: (String, Array[Byte])*): String = {
    val dir = Files.createTempDirectory("graft_xmldecode")
    files.foreach { case (n, b) => Files.write(dir.resolve(n), b) }
    dir.toString
  }

  private def utf8Feed(files: (String, String)*): String =
    feed(files.map { case (n, s) => n -> s.getBytes(UTF_8) }: _*)

  private def hasFromXml(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(_.expressions.exists(_.exists(_.isInstanceOf[XmlToStructs])))

  /** Reads `dir` at `path` into `from_xml(xml, schema, opts)`; asserts the
    * plan decodes exactly when `covered`, and that its rows equal Spark's
    * `from_xml` over the reader's own record strings. Returns the record
    * count. */
  private def sameAsFromXml(dir: String, path: String, schema: StructType,
      opts: Map[String, String] = permissive, ns: Map[String, String] = Map.empty,
      target: Long = 0L, covered: Boolean = true, session: SparkSession = spark): Long = {
    val raw = Xml.readXmlNodePath(session, dir, path, ns, target)
    val got = raw.select(from_xml(col("xml"), schema, opts.asJava).as("r"))
    assert(hasFromXml(got) != covered, got.queryExecution.optimizedPlan.treeString)
    val s = session
    import s.implicits._
    val records = raw.collect().map(_.getString(0)).toSeq
    val want = records.toDF("xml").select(from_xml(col("xml"), schema, opts.asJava).as("r"))
    val n = got.count()
    assert(n == records.size && want.count() == n)
    val extra = got.exceptAll(want).collect()
    val missing = want.exceptAll(got).collect()
    assert(extra.isEmpty && missing.isEmpty,
      s"decoded-only rows ${extra.take(3).mkString("; ")}; from_xml-only rows ${missing.take(3).mkString("; ")}")
    n
  }

  private val bookSchema = StructType(Seq(StructField("_key", LongType),
    StructField("name", StringType), StructField("region", LongType)))

  test("the src_xml fixture shapes decode to from_xml's rows") {
    // src_xml_read: Spark's own XML writer
    val read = Files.createTempDirectory("graft_xmldecode_read").resolve("w").toString
    spark.createDataFrame(nations.map { case (k, n, g) => (k, n, g) })
      .toDF("_key", "name", "regionkey")
      .write.option("rowTag", "nation").option("rootTag", "nations").format("xml").save(read)
    assert(sameAsFromXml(read, "/nations/nation", StructType(Seq(StructField("_key", LongType),
      StructField("name", StringType), StructField("regionkey", LongType)))) == 25)

    // src_xml_xsd_schema: the XSD-derived book (a date leaf keeps from_xml)
    val xsdBook = StructType(Seq(StructField("title", StringType),
      StructField("published", DateType),
      StructField("author", ArrayType(StructType(Seq(StructField("name", StringType),
        StructField("born", IntegerType))))),
      StructField("publisher", StructType(Seq(StructField("pname", StringType),
        StructField("_pid", LongType)))),
      StructField("_id", StringType), StructField("_edition", IntegerType)))
    val xsdDir = utf8Feed("books.xml" -> nations.map { case (k, n, _) =>
      s"""<book id="b$k" edition="${k % 3}"><title>$n</title><published>2020-01-0${1 + k % 9}</published>""" +
        s"""<author><name>A$k</name><born>19${10 + k}</born></author><author><name>B$k</name></author>""" +
        s"""<publisher pid="$k"><pname>P</pname></publisher></book>"""
    }.mkString("<books>\n", "\n", "\n</books>\n"))
    sameAsFromXml(xsdDir, "/books/book", xsdBook, covered = false)
    // ... and without the date leaf, decoded
    sameAsFromXml(xsdDir, "/books/book", StructType(xsdBook.filterNot(_.dataType == DateType)))

    // src_xml_xsd_validate: a non-numeric region and a missing one
    val validate = utf8Feed("v.xml" -> nations.map { case (k, n, g) =>
      val region = k % 5 match {
        case 2 => "<region>oops</region>"
        case 4 => ""
        case _ => s"<region>$g</region>"
      }
      s"""<book key="$k"><name>$n</name>$region</book>"""
    }.mkString("<books>", "\n", "</books>"))
    sameAsFromXml(validate, "/books/book", bookSchema.add("_corrupt_record", StringType))

    // src_xml_permissive: a bad entity and a mismatched end tag, under a
    // renamed corrupt-record column
    val perm = utf8Feed("mixed.xml" -> ((1 to 8).map(i => s"  <rec><id>$i</id><v>ok$i</v></rec>") ++
      Seq("  <rec><id>9</id><v>unclosed</w></rec>", "  <rec><id>10</id><v>&badent;</v></rec>"))
      .mkString("<recs>\n", "\n", "\n</recs>"))
    val permSchema = StructType(Seq(StructField("id", LongType), StructField("v", StringType),
      StructField("_corrupt", StringType)))
    sameAsFromXml(perm, "/recs/rec", permSchema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))
    sameAsFromXml(perm, "/recs/rec", permSchema, Map("mode" -> "permissive",
      "columnnameofcorruptrecord" -> "_corrupt"))

    // src_xml_enum_union: enum attribute and element, one branch of a choice
    val enumDir = utf8Feed("e.xml" -> nations.map { case (k, n, _) =>
      val branch = if (k % 2 == 0) s"<ebook_url>https://ex.org/$n</ebook_url>"
        else s"<print_weight>${BigDecimal(k * 1.5).setScale(1)}</print_weight>"
      s"""<item key="$k" cond="${if (k % 2 == 0) "new" else "used"}">""" +
        s"""<format>${Seq("hardcover", "paperback", "ebook")(k.toInt % 3)}</format>$branch</item>"""
    }.mkString("<items>", "", "</items>"))
    sameAsFromXml(enumDir, "/items/item", StructType(Seq(StructField("format", StringType),
      StructField("ebook_url", StringType), StructField("print_weight", DoubleType),
      StructField("_key", LongType), StructField("_cond", StringType))))

    // src_xml_nodepath and src_xml_split_bigfile: decoys at other depths
    // and a nested same-name record
    def catalog(rows: Seq[(Long, String, Long)]) = rows.map { case (k, n, g) =>
      s"""  <book key="$k"><name>$n</name><region>$g</region>""" +
        s"""<related><book key="${k + 2000}"><name>REL</name><region>9</region></book></related></book>
           |  <review stars="5"><book key="${k + 1000}"><name>DECOY</name><region>8</region></book></review>""".stripMargin
    }.mkString("<catalog>\n", "\n", "\n</catalog>")
    val nodepath = utf8Feed(nations.groupBy(_._1 % 3).toSeq.map { case (f, rs) =>
      s"cat_$f.xml" -> catalog(rs) }: _*)
    assert(sameAsFromXml(nodepath, "/catalog/book", bookSchema) == 25)
    val big = utf8Feed("cat_all.xml" -> catalog(nations))
    assert(sameAsFromXml(big, "/catalog/book", bookSchema, target = 1024L) == 25)

    // src_xml_ns_path: two prefixes bound to the target URI, one to a decoy
    val nsPath = utf8Feed("ns.xml" -> nations.map { case (k, n, g) =>
      val inner = s"<name>$n</name><region>$g</region>"
      k % 3 match {
        case 0 => s"""<a:book xmlns:a="urn:graft:books" key="$k">$inner</a:book>"""
        case 1 => s"""<b:book xmlns:b="urn:graft:books" key="$k">$inner</b:book>"""
        case _ => s"""<a:book xmlns:a="urn:graft:decoy" key="$k">$inner</a:book>"""
      }
    }.mkString("<catalog>\n", "\n", "\n</catalog>"))
    val ns = Map("ns" -> "urn:graft:books")
    assert(sameAsFromXml(nsPath, "/catalog/ns:book", bookSchema, ns = ns) == 17)

    // src_xml_ns_root: prefixes bound on the root, re-declared on records
    val nsRoot = utf8Feed("root.xml" -> nations.map { case (k, n, g) =>
      val inner = s"<name>$n</name><region>$g</region>"
      k % 3 match {
        case 0 => s"""<x:book key="$k">$inner</x:book>"""
        case 1 => s"""<b:book xmlns:b="urn:graft:books" key="$k">$inner</b:book>"""
        case _ => s"""<dk:book key="$k">$inner</dk:book>"""
      }
    }.mkString("""<catalog xmlns:x="urn:graft:books" xmlns:dk="urn:graft:decoy">""" + "\n", "\n",
      "\n</catalog>"))
    assert(sameAsFromXml(nsRoot, "/catalog/ns:book", bookSchema, ns = ns) == 17)

    // src_xml_nodepath_pred: attribute predicates on two levels
    val pred = utf8Feed("pred.xml" -> nations.map { case (k, n, g) =>
      s"""<shelf genre="${if (g % 2 == 0) "fiction" else "tech"}">""" +
        s"""<book lang="${if (k % 2 == 0) "en" else "fr"}" key="$k"><name>$n</name><region>$g</region>""" +
        s"""<related><book lang="en" key="${k + 2000}"><name>REL</name></book></related></book>""" +
        s"""<book lang="fr" key="${k + 3000}"><name>ALT</name><region>7</region></book></shelf>"""
    }.mkString("<catalog>\n", "\n", "\n</catalog>"))
    sameAsFromXml(pred, """/catalog/shelf[@genre='fiction']/book[@lang="en"]""",
      bookSchema.add("_lang", StringType))

    // src_xml_encoding: ISO-8859-1 bytes are invalid UTF-8 (U+FFFD in the
    // snippet), so every record goes to from_xml
    val latin = feed("latin1.xml" -> ("<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n<ns>\n" +
      nations.map { case (k, n, _) => s"""  <n key="$k"><name>$n café über</name></n>""" }
        .mkString("\n") + "\n</ns>").getBytes(ISO_8859_1))
    assert(sameAsFromXml(latin, "/ns/n", StructType(Seq(StructField("_key", LongType),
      StructField("name", StringType)))) == 25)
  }

  test("Round7Spec's hazard catalogs decode to from_xml's rows, whole and split") {
    val hazard = utf8Feed("big.xml" -> Round7Spec.hazardCatalog(40))
    val bookish = StructType(Seq(StructField("_key", LongType), StructField("_q", StringType),
      StructField("name", StringType), StructField("blob", StringType),
      StructField("related", StructType(Seq(StructField("book", ArrayType(StructType(Seq(
        StructField("_key", LongType), StructField("name", StringType)))))))),
      StructField("_corrupt_record", StringType)))
    for (target <- Seq(1L << 30, 1536L))
      assert(sameAsFromXml(hazard, Round7Spec.hazardPath, bookish, target = target) == 501)
    val nsHazard = utf8Feed("ns.xml" -> Round7Spec.nsHazardCatalog(150))
    val nsBook = StructType(Seq(StructField("_key", LongType), StructField("_note", StringType),
      StructField("a:t", StringType), StructField("s:n", LongType),
      StructField("_a:flag", StringType), StructField("_q:v", StringType),
      StructField("part", StructType(Seq(StructField("d:x", StructType(Seq(
        StructField("_y", StringType), StructField("leaf", StringType)))))))))
    for (target <- Seq(1L << 30, 4096L))
      assert(sameAsFromXml(nsHazard, "/catalog/shelf/book", nsBook, target = target) == 1800)
  }

  test("the loopbench feed shape decodes to from_xml's rows; only the malformed records fall back") {
    val rnd = new Random(9911)
    val (docs, malformed) = loopFeed(rnd, files = 3, records = 200)
    val dir = utf8Feed(docs: _*)
    assert(sameAsFromXml(dir, "/feed/rec", LoopSchema) == 600)
    // the decoder itself refuses exactly the malformed `qty` records
    val spec = specOf(LoopSchema, permissive)
    val dec = spec.decoder()
    val records = Xml.readXmlNodePath(spark, dir, "/feed/rec").collect().map(_.getString(0))
    val refused = records.filter { r =>
      // the decoder reads the source bytes: the record without the
      // root-declared bindings the snippet re-declares
      val b = r.replace(""" xmlns="urn:loopbench:feed" xmlns:m="urn:loopbench:meta"""", "")
        .getBytes(UTF_8)
      dec.decode(b, b.length) == null
    }
    assert(refused.length == malformed && refused.forall(_.contains("x</qty>")))
  }

  test("a seeded feed with one refused construct per record decodes to from_xml's rows") {
    val rnd = new Random(4242)
    val spec = specOf(GenSchema, permissive)
    val dec = spec.decoder()
    val recs = (0 until 900).map { i =>
      val k = if (rnd.nextInt(3) == 0) Injections.size else rnd.nextInt(Injections.size)
      (genRecord(rnd, i, if (k < Injections.size) Some(Injections(k)) else None), k < Injections.size)
    }
    // direct: a clean record decodes to exactly from_xml's row, an
    // injected one is refused
    recs.foreach { case (r, injected) =>
      val b = r.getBytes(UTF_8)
      val row = dec.decode(b, b.length)
      if (injected) assert(row == null, s"decoded a refused record: $r")
      else {
        assert(row != null, s"refused a clean record: $r")
        assert(row == spec.fallbackRow(org.apache.spark.unsafe.types.UTF8String.fromString(r)), r)
      }
    }
    assert(recs.count(_._2) > 500 && recs.count(!_._2) > 200)
    // and through the plan, with invalid UTF-8 bytes in a few records
    val files = recs.map(_._1).grouped(100).zipWithIndex.map { case (rs, f) =>
      val bytes = rs.mkString("<feed>\n", "\n", "\n</feed>\n").getBytes(UTF_8)
      if (f == 0) bytes.indices.filter(i => bytes(i) == '~').foreach(i => bytes(i) = 0xFF.toByte)
      f"g$f%02d.xml" -> bytes
    }.toSeq
    assert(sameAsFromXml(feed(files: _*), "/feed/rec", GenSchema) == 900)
    val failfast = Map("mode" -> "FAILFAST")
    val clean = utf8Feed("c.xml" -> recs.filterNot(_._2).map(_._1).mkString("<feed>", "\n", "</feed>"))
    sameAsFromXml(clean, "/feed/rec", StructType(GenSchema.dropRight(1)), failfast)
  }

  test("plan pins: a session without extensions decodes; uncovered plans keep from_xml") {
    val ctor = classOf[org.apache.spark.sql.classic.SparkSession].getDeclaredConstructors
      .find(_.getParameterCount == 6).get
    ctor.setAccessible(true)
    val bare = ctor.newInstance(spark.sparkContext,
      Some(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String], Map.empty[String, String])
      .asInstanceOf[SparkSession]
    assert(bare.experimental.extraOptimizations.isEmpty)
    val (docs, _) = loopFeed(new Random(7), files = 2, records = 120)
    val dir = utf8Feed(docs: _*)
    // loopbench's `XmlIngest.extract`, unchanged
    def extract(raw: DataFrame) =
      raw.select(from_xml(col("xml"), LoopSchema, permissive.asJava).as("r")).select(
        lit(1L).as("grp"), col("r._id").as("id"), col("r._kind").as("kind"),
        col("r.`m:src`._region").as("region"), col("r.amount").as("amount"),
        col("r.qty").as("qty"), size(col("r.items.item")).as("n_items"),
        col("r._corrupt_record").isNotNull.as("bad"))
    val decoded = extract(Xml.readXmlNodePath(bare, dir, "/feed/rec"))
    assert(!hasFromXml(decoded), decoded.queryExecution.optimizedPlan.treeString)
    extract(Xml.readXmlNodePath(bare, dir, "/feed/rec")).count()
    assert(bare.experimental.extraOptimizations == Seq(XmlDecodeRule))
    assert(decoded.agg(sum(col("bad").cast("long"))).head().getLong(0) == 6L)
    sameAsFromXml(dir, "/feed/rec", LoopSchema, session = bare)
    // a timestamp leaf is outside the grammar
    val withTs = StructType(LoopSchema.fields :+ StructField("at", TimestampType))
    sameAsFromXml(dir, "/feed/rec", withTs, covered = false)
    // an option outside the grammar
    sameAsFromXml(dir, "/feed/rec", LoopSchema, permissive + ("ignoreSurroundingSpaces" -> "false"),
      covered = false)
    // `xml` also read directly
    val both = Xml.readXmlNodePath(spark, dir, "/feed/rec")
      .select(col("xml"), from_xml(col("xml"), LoopSchema, permissive.asJava).as("r"))
    assert(hasFromXml(both))
    // the node-path oracle queries decode
    for (q <- Seq("src_xml_nodepath", "src_xml_ns_path", "src_xml_ns_root",
        "src_xml_nodepath_pred", "src_xml_split_bigfile"))
      assert(!hasFromXml(Xml.queries(q)(spark, sf)), q)
    // a filter between the reader and from_xml
    val filtered = Xml.readXmlNodePath(spark, dir, "/feed/rec").filter(length(col("xml")) > 10)
      .select(from_xml(col("xml"), LoopSchema, permissive.asJava).as("r"))
    assert(hasFromXml(filtered))
  }

  test("the untyped xml column keeps the snippet bytes: CDATA, re-declared bindings, U+FFFD") {
    val doc = "<r xmlns:a=\"urn:a\" xmlns='urn:d'>\n" +
      "<x k=\"1\"><![CDATA[<&>]]><a:y/></x>\n" +
      "<x k=\"2\" xmlns:a=\"urn:a2\"><!-- c --><?p q?></x>\n" +
      "<x k=\"ÿ\"/>\n</r>\n"
    val bytes = doc.getBytes(UTF_8)
    // an invalid UTF-8 byte in place of the U+00FF code point's first byte
    val at = bytes.indexOfSlice("ÿ".getBytes(UTF_8))
    bytes(at) = 0xFF.toByte
    val got = Xml.readXmlNodePath(spark, feed("u.xml" -> bytes), "/r/x").collect().map(_.getString(0))
    assert(got.toSeq == Seq(
      "<x k=\"1\" xmlns=\"urn:d\" xmlns:a=\"urn:a\"><![CDATA[<&>]]><a:y/></x>",
      "<x k=\"2\" xmlns:a=\"urn:a2\" xmlns=\"urn:d\"><!-- c --><?p q?></x>",
      "<x k=\"��\" xmlns=\"urn:d\" xmlns:a=\"urn:a\"/>"))
  }
}

object XmlDecodeSpec {
  val nations: Seq[(Long, String, Long)] = Seq("ALGERIA", "ARGENTINA", "BRAZIL", "CANADA",
    "EGYPT", "ETHIOPIA", "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES").zipWithIndex.map { case (n, k) =>
    (k.toLong, n, (k * 7 % 5).toLong)
  }

  def specOf(schema: StructType, opts: Map[String, String]): XmlDecode.Spec =
    XmlDecode.specOf(XmlToStructs(schema, opts, BoundReference(0, StringType, nullable = true),
      Some("UTC"))).get

  private val ItemType = StructType(Seq(
    StructField("_sku", StringType), StructField("_n", LongType)))
  /** loopbench's `XmlIngest.Schema`. */
  val LoopSchema: StructType = StructType(Seq(
    StructField("_id", LongType), StructField("_kind", StringType),
    StructField("m:src", StructType(Seq(
      StructField("_region", LongType), StructField("_VALUE", StringType)))),
    StructField("amount", LongType), StructField("qty", LongType),
    StructField("items", StructType(Seq(StructField("item", ArrayType(ItemType))))),
    StructField("note", StringType), StructField("_corrupt_record", StringType)))

  /** Files shaped like loopbench's `XmlFeed`: bindings on the root, one
    * record in 40 with a malformed `qty`. Returns the files and the number
    * of malformed records. */
  def loopFeed(rnd: Random, files: Int, records: Int): (Seq[(String, String)], Int) = {
    var id = 0L; var bad = 0
    val docs = (0 until files).map { f =>
      val recs = (0 until records).map { i =>
        id += 1
        val malformed = (id % 40) == 17
        if (malformed) bad += 1
        val items = (0 until 1 + rnd.nextInt(3))
          .map(_ => s"""<item sku="k${rnd.nextInt(100000)}" n="${1 + rnd.nextInt(9)}"/>""").mkString
        s"""  <rec id="$id" kind="${Seq("order", "refund", "quote")(rnd.nextInt(3))}">""" +
          s"""<m:src region="${rnd.nextInt(25)}">s${rnd.nextInt(1000)}</m:src>""" +
          s"<amount>${rnd.nextInt(1000000)}</amount><qty>${1 + rnd.nextInt(99)}${if (malformed) "x" else ""}</qty>" +
          s"<items>$items</items><note>alpha ${Seq("bravo", "kilo", "zulu")(rnd.nextInt(3))}</note></rec>"
      }
      f"part$f%03d.xml" -> ("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<feed xmlns=\"urn:loopbench:feed\" xmlns:m=\"urn:loopbench:meta\">\n" +
        recs.mkString("\n") + "\n</feed>\n")
    }
    (docs, bad)
  }

  /** The seeded feed's schema: every leaf type, attributes, `_VALUE`,
    * nested structs and arrays of structs and of leaves. */
  val GenSchema: StructType = StructType(Seq(
    StructField("_id", LongType), StructField("_tag", StringType),
    StructField("name", StringType), StructField("amount", LongType),
    StructField("qty", IntegerType), StructField("small", ShortType),
    StructField("tiny", ByteType), StructField("price", DoubleType),
    StructField("ratio", FloatType), StructField("flag", BooleanType),
    StructField("src", StructType(Seq(StructField("_region", LongType),
      StructField("_VALUE", StringType)))),
    StructField("items", StructType(Seq(StructField("item", ArrayType(ItemType))))),
    StructField("tags", StructType(Seq(StructField("t", ArrayType(StringType))))),
    StructField("note", StringType), StructField("_corrupt_record", StringType)))

  /** Constructs the decoder must refuse, each a rewrite of a clean
    * record: the first match of a pattern and its replacement. */
  val Injections: Seq[(String, String)] = Seq(
    "</name>" -> "</nam>", // mismatched end tag
    "<name>" -> "<name>&bogus;", // unknown entity
    "<name>" -> "<name><![CDATA[c]]>", // CDATA
    "<amount>" -> "<!-- c --><amount>", // comment
    "<amount>" -> "<?pi x?><amount>", // PI
    "<note>" -> "<note>a\r\n", // carriage return
    "<note>" -> "<note>\u0001", // control byte
    "tag='" -> "tag='a\tb", // tab inside an attribute value
    "tag='" -> "tag='a\nb", // newline inside an attribute value
    "<rec " -> "<rec tag=\"z\" ", // duplicate attribute
    "<items>" -> "<items>loose text<item sku=\"q\"/>", // mixed content
    "<src " -> "<src>x</src><src ", // repeated non-array struct
    "<name>" -> "<name>a</name><name>", // repeated non-array leaf
    "<flag>[^<]*</flag>" -> "<flag/>", // empty leaf
    "<qty>[^<]*</qty>" -> "<qty></qty>", // empty leaf
    "<amount>[^<]*</amount>" -> "<amount>  </amount>", // blank leaf
    "<note>[^<]*</note>" -> "<note></note>", // empty string leaf
    "region=\"[^\"]*\"" -> "region=\"\"", // empty attribute
    "<amount>[^<]*</amount>" -> "<amount>12x</amount>", // non-canonical literals
    "<qty>[^<]*</qty>" -> "<qty>+5</qty>",
    "<price>[^<]*</price>" -> "<price>1e3</price>",
    "<price>[^<]*</price>" -> "<price>NaN</price>",
    "<price>[^<]*</price>" -> "<price>1.</price>",
    "<flag>[^<]*</flag>" -> "<flag>TRUE</flag>",
    "<flag>[^<]*</flag>" -> "<flag>1</flag>",
    "<amount>[^<]*</amount>" -> "<amount>9223372036854775808</amount>", // overflow
    "<amount>[^<]*</amount>" -> "<amount>-9223372036854775808</amount>",
    "<qty>[^<]*</qty>" -> "<qty>-2147483648</qty>",
    "<small>[^<]*</small>" -> "<small>40000</small>",
    "<tiny>[^<]*</tiny>" -> "<tiny>-128</tiny>",
    "<amount>" -> "<amount cur=\"eur\">", // attribute on a leaf
    "<note>" -> "<Note>n</Note><note>", // case-insensitive matches
    "<items>" -> "<items><ITEM sku=\"s\"/>",
    "<rec " -> "<rec ID=\"5\" ",
    "<note>" -> "<note>&#0;", // a reference to a non-character
    "<note>" -> "<note>\uFFFF", // a non-character
    "<name>" -> "<name><b>bold</b>", // an element inside a string leaf
    "<note>" -> "<note>]]>", // `]]>` in text
    "<src " -> "<src VALUE=\"v\" ", // an attribute named like `_VALUE`
    "<note>" -> "<_id>5</_id><note>", // an element named like an attribute field
    "region=\"([0-9]+)\"" -> "region=\"$1\"x=\"2\"", // no space between attributes
    "<note>" -> "<n\u00f6te>x</n\u00f6te><note>" // a non-ASCII name
  )

  /** One record of the seeded feed (`~` marks a byte the plan test turns
    * into invalid UTF-8). */
  def genRecord(rnd: Random, i: Int, inject: Option[(String, String)]): String = {
    val tags = (0 until rnd.nextInt(3)).map(j => s"<t> tag$j &amp; more </t>").mkString
    val items = (0 until rnd.nextInt(3))
      .map(j => s"""<item n="$j" sku="s&#${65 + j};${rnd.nextInt(9)}"/>""").mkString
    val ws = if (rnd.nextBoolean()) "\n  " else " "
    val rec = s"""<rec id="${if (rnd.nextBoolean()) -i else i}" tag='t&lt;$i&gt;'>$ws""" +
      s"<name>${Seq("plain", "  padded  ", "café über", "a&amp;b &#x41;&#66;", "~x")(rnd.nextInt(5))}</name>$ws" +
      s"<amount>${rnd.nextLong() / 1000}</amount><qty>${rnd.nextInt(2000000000) - 1000000000}</qty>" +
      s"<small>${rnd.nextInt(65535) - 32767}</small><tiny>${rnd.nextInt(255) - 127}</tiny>" +
      s"<price>${rnd.nextInt(100000)}.${rnd.nextInt(100)}</price>" +
      s"<ratio>${if (rnd.nextBoolean()) "-" else ""}${rnd.nextInt(1000)}.${rnd.nextInt(1000)}</ratio>" +
      s"<flag>${rnd.nextBoolean()}</flag>" +
      s"""<src region="${rnd.nextInt(25)}"> s${rnd.nextInt(100)} </src>""" +
      s"<unknown xmlns:z=\"urn:z\" a='1'><deep x=\"y\">skip &lt;me&gt;</deep><z:deep/></unknown>" +
      s"<items>$ws$items</items><tags>$tags</tags>" +
      s"<note>n$i</note></rec>"
    inject.fold(rec) { case (from, to) =>
      val out = rec.replaceFirst(from, to)
      assert(out != rec, s"$from not in $rec")
      out
    }
  }
}
