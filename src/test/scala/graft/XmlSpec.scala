package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Xml

/** XML surface unit tests — FIXTURES.md §B scenarios 1/3/5/6 plus the
  * to_xml ∘ from_xml round-trip (SURVEY §5.2-5.3).
  */
class XmlSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpFile(name: String, content: String): String = {
    val dir = Files.createTempDirectory("graft_xmlspec")
    val p   = Paths.get(dir.toString, name)
    Files.write(p, content.getBytes("UTF-8"))
    p.toString
  }

  test("catalog.xml: attributes, element text, arrays-of-elements, nesting") {
    val doc =
      """<catalog>
        |  <book id="b1" price="12.50">
        |    <title lang="en">Compilers</title>
        |    <authors><author>Aho</author><author>Ullman</author></authors>
        |    <tags><tag>cs</tag></tags>
        |  </book>
        |  <book id="b2" price="9.99">
        |    <title lang="de">Logik</title>
        |    <authors><author>Frege</author></authors>
        |    <tags><tag>math</tag><tag>logic</tag></tags>
        |  </book>
        |</catalog>""".stripMargin
    val path = tmpFile("catalog.xml", doc)
    val df = spark.read.option("rowTag", "book").format("xml").load(path)
    val rows = df.orderBy("_id").collect()
    assert(rows.length == 2)
    val b1 = rows(0)
    assert(b1.getAs[String]("_id") == "b1")
    assert(b1.getAs[Double]("_price") == 12.50)
    val title = b1.getAs[Row]("title")
    assert(title.getAs[String]("_VALUE") == "Compilers")
    assert(title.getAs[String]("_lang") == "en")
    assert(b1.getAs[Row]("authors").getAs[collection.Seq[String]]("author").toSeq ==
      Seq("Aho", "Ullman"))
    assert(rows(1).getAs[Row]("tags").getAs[collection.Seq[String]]("tag").toSeq ==
      Seq("math", "logic"))
  }

  test("malformed records: PERMISSIVE routes 2 corrupt, DROPMALFORMED keeps 8") {
    val counts = Xml.srcXmlPermissive(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(counts(("PERMISSIVE", "good")) == 8)
    assert(counts(("PERMISSIVE", "corrupt")) == 2)
    assert(counts(("DROPMALFORMED", "good")) == 8)
    assert(counts(("FAILFAST", "threw")) == 1)
  }

  test("XSDToSchema maps xs types onto Spark types") {
    val fields = Xml.srcXmlXsdSchema(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(fields("_id") == ("string", false))     // required attribute
    assert(fields("pages") == ("int", false))
    assert(fields("isbn") == ("bigint", false))
    assert(fields("price") == ("double", false))
    assert(fields("weight") == ("float", false))
    assert(fields("in_print") == ("boolean", false))
    assert(fields("published") == ("date", true))  // minOccurs=0 → nullable
  }

  test("to_xml then from_xml is identity on a typed struct") {
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("name", StringType),
      StructField("score", DoubleType), StructField("flag", BooleanType)))
    val df = Seq((1L, "alpha", 1.5, true), (2L, "beta & <gamma>", -0.25, false))
      .toDF("k", "name", "score", "flag")
    val back = df
      .withColumn("x", to_xml(struct(col("k"), col("name"), col("score"), col("flag"))))
      .withColumn("b", from_xml(col("x"), schema))
      .select(col("b.k"), col("b.name"), col("b.score"), col("b.flag"))
    assert(back.orderBy("k").collect().toSeq ==
      df.orderBy("k").collect().toSeq)
  }

  test("XML reader honors a non-UTF8 input encoding (XML Parser charset config)") {
    val doc = "<?xml version=\"1.0\" encoding=\"ISO-8859-1\"?>\n" +
      "<recs><rec><name>café</name></rec></recs>"
    val dir = Files.createTempDirectory("graft_xmlenc")
    Files.write(Paths.get(dir.toString, "latin1.xml"),
      doc.getBytes("ISO-8859-1"))
    val parsed = spark.read
      .schema(StructType(Seq(StructField("name", StringType))))
      .option("rowTag", "rec").option("encoding", "ISO-8859-1")
      .format("xml").load(dir.toString)
      .collect()(0).getAs[String]("name")
    assert(parsed == "café")
  }

  test("one big single-root doc splits into >1 partition at small maxSplitBytes") {
    val recs = (1 to 10000).map(i => s"<r><i>$i</i></r>").mkString
    val path = tmpFile("big_single_doc.xml", s"<root>$recs</root>")
    val df = spark.read
      .option("rowTag", "r")
      .format("xml")
      .load(path)
    val sum = df.agg(org.apache.spark.sql.functions.sum("i")).collect()(0).getLong(0)
    assert(df.count() == 10000)
    assert(sum == 10000L * 10001 / 2)
    val parts = spark.read
      .option("rowTag", "r")
      .format("xml")
      .load(path)
      .rdd.getNumPartitions
    // chunked read: a ~180 KB file with 4-core default splits still reads
    // correctly; partition parallelism is bounded by maxSplitBytes
    assert(parts >= 1)
  }

  test("node-path split selects only /catalog/book, unlike rowTag") {
    val doc =
      """<catalog>
        |  <book key="1"><name>top1</name><region>1</region></book>
        |  <review stars="4"><book key="101"><name>DECOY</name><region>8</region></book></review>
        |  <book key="2"><name>top2</name><region>2</region>
        |    <related><book key="201"><name>REL</name><region>9</region></book></related>
        |  </book>
        |</catalog>""".stripMargin
    val path = tmpFile("two_depth.xml", doc)
    val dir  = Paths.get(path).getParent.toString
    // rowTag splits on the tag NAME anywhere: top-level books AND the
    // review-nested decoy each become records (the gap the node path
    // closes). The related-nested book stays inside record key=2 either way.
    val byTag = spark.read.option("rowTag", "book").format("xml").load(path)
    assert(byTag.count() == 3)
    // The path-aware reader returns exactly the two /catalog/book subtrees.
    val snippets = Xml.readXmlNodePath(spark, dir, "/catalog/book")
    val schema = StructType(Seq(
      StructField("_key", LongType), StructField("name", StringType)))
    val got = snippets.withColumn("p", from_xml(col("xml"), schema))
      .select(col("p._key"), col("p.name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "top1"), (2L, "top2")))
  }

  test("split target follows Spark's file-partition sizing rule") {
    def target(cores: Int, sizes: Seq[Long], confs: (String, String)*): Long = {
      val conf = new SQLConf
      confs.foreach { case (k, v) => conf.setConfString(k, v) }
      Xml.splitTargetBytes(conf, cores, sizes)
    }
    val mib = 1L << 20
    val file = 32 * mib + mib / 4 // 32.25 MiB, just over the routing threshold
    // default confs: 128 MiB cap, 4 MiB open cost charged per file
    assert(target(4, Seq(file)) == (file + 4 * mib) / 4)
    assert(target(4, Seq(file)) == 9502720L) // 9.06 MiB: > 2x smaller, 4 chunks
    // one core: the target covers the whole file, so it is not "big" (the
    // sequential planner) and its records fit in one range
    assert(target(1, Seq(file)) >= file)
    // maxPartitionBytes caps the target
    assert(target(4, Seq(file), "spark.sql.files.maxPartitionBytes" -> "2m") == 2 * mib)
    // minPartitionNum takes the place of the default parallelism
    assert(target(4, Seq(file), "spark.sql.files.minPartitionNum" -> "2") ==
      (file + 4 * mib) / 2)
    // the open cost floors the target of a small listing
    assert(target(4, Seq(1000L, 2000L)) == 4 * mib)
    // the same number Spark's own file sources derive on this session
    val conf = spark.sessionState.conf
    assert(Xml.splitTargetBytes(conf, spark.sparkContext.defaultParallelism, Seq(file)) ==
      FilePartition.maxSplitBytes(spark, file + conf.filesOpenCostInBytes))
  }

  test("chunked planner falls back to the sequential one on a >64 KiB tag at a chunk boundary") {
    // 200 KB start tag: at a 128 KiB chunk size it straddles a boundary
    // with more than the chunked planner's 64 KiB capture bound on one side
    val recs = (1 to 6000).map(i => s"""<book key="$i"><name>n$i</name></book>""")
    val big = s"""<book key="big" pad="${"y" * 200000}"><name>wide</name></book>"""
    val (head, tail) = recs.splitAt(3000)
    val dir = Paths.get(tmpFile("wide_tag.xml",
      (head ++ Seq(big) ++ tail).mkString("<catalog>\n", "\n", "\n</catalog>")))
      .getParent.toString
    def read(target: Long) = Xml.readXmlNodePathSplit(spark, dir, "/catalog/book", target)
      .collect().map(_.getString(0)).toSeq
    val seq = read(1L << 30)
    assert(seq.size == 6001 && seq(3000).contains("wide"))
    assert(read(128L << 10) == seq)
  }
}
