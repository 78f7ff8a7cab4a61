package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
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
    val file = 32 * mib + mib / 4 // 32.25 MiB, the size of xml_ingest's big file
    // default confs: 128 MiB cap, 4 MiB open cost charged per file
    assert(target(4, Seq(file)) == (file + 4 * mib) / 4)
    assert(target(4, Seq(file)) == 9502720L) // 9.06 MiB: 4 chunks
    // one core: the target covers the whole file, so it is one whole-file
    // range with no planning pass
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
    def read(target: Long) =
      Xml.readXmlNodePath(spark, dir, "/catalog/book", targetSplitBytes = target)
      .collect().map(_.getString(0)).toSeq
    val seq = read(1L << 30)
    assert(seq.size == 6001 && seq(3000).contains("wide"))
    assert(read(128L << 10) == seq)
  }

  /** A catalog of `n` books from key `k0`: two in three bind to
    * urn:graft:books through the root-declared `x:` prefix, the third to a
    * decoy URI through `d:`. About 70 bytes a book. */
  private def catalogDoc(k0: Int, n: Int): String =
    (k0 until k0 + n).map { k =>
      val p = if (k % 3 == 2) "d" else "x"
      s"""  <$p:book key="$k"><name>n$k</name><region>${k % 5}</region></$p:book>"""
    }.mkString("<catalog xmlns:x=\"urn:graft:books\" xmlns:d=\"urn:graft:decoy\">\n", "\n",
      "\n</catalog>\n")

  /** Writes each (name, doc) into `root/all` and alone into `root/<name>`. */
  private def writeFeed(docs: Seq[(String, String)]): java.nio.file.Path = {
    val root = Files.createTempDirectory("graft_xmlpack")
    Files.createDirectories(root.resolve("all"))
    docs.foreach { case (name, doc) =>
      Files.write(root.resolve("all").resolve(name), doc.getBytes("UTF-8"))
      val one = Files.createDirectories(root.resolve(name.stripSuffix(".xml")))
      Files.write(one.resolve(name), doc.getBytes("UTF-8"))
    }
    root
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).toSeq

  test("small files pack into Spark's file partitions, records in single-file order") {
    val docs = (0 until 12).map(f => f"cat_$f%02d.xml" -> catalogDoc(f * 1000, 560))
    val root = writeFeed(docs)
    val all = root.resolve("all")
    val sizes = docs.map(d => Files.size(all.resolve(d._1)))
    assert(sizes.forall(n => n > 36000 && n < 44000)) // ~40 KB, as in the xml_ingest feed
    val conf = spark.sessionState.conf
    val files = docs.zip(sizes).map { case ((name, _), n) =>
      PartitionedFile(InternalRow.empty, SparkPath.fromPathString(all.resolve(name).toString), 0L, n)
    }
    val sparkBins = FilePartition.getFilePartitions(spark, files,
      FilePartition.maxSplitBytes(spark, sizes.map(_ + conf.filesOpenCostInBytes).sum))
    assert(sparkBins.size == 4) // local[4]: three ~40 KB files a task
    val target = Xml.splitTargetBytes(conf, spark.sparkContext.defaultParallelism, sizes)
    assert(Xml.packBins(sizes, conf, target)(identity).map(_.size) ==
      sparkBins.map(_.files.length))
    val ns = Map("ns" -> "urn:graft:books")
    val counts = Seq("/catalog/book", "/catalog/ns:book").map { path =>
      val packed = Xml.readXmlNodePath(spark, all.toString, path, ns)
      assert(packed.rdd.getNumPartitions == sparkBins.size)
      val single = docs.flatMap { case (name, _) =>
        rows(Xml.readXmlNodePath(spark, root.resolve(name.stripSuffix(".xml")).toString, path, ns))
      }
      val got = rows(packed)
      assert(got == single, s"packed read of $path reordered or changed records")
      got.size
    }
    assert(counts == Seq(12 * 560, 12 * 560 * 2 / 3))
  }

  test("split path: small-file ranges share tasks beside a big file's ranges, same order") {
    // a small open cost lets a sub-MiB listing show the rule; a big file in
    // the middle of the name order, eleven small ones around it
    val ss = spark.newSession()
    ss.conf.set("spark.sql.files.openCostInBytes", "8192")
    val docs = (0 until 12).map { f =>
      f"cat_$f%02d.xml" -> catalogDoc(f * 100000, if (f == 5) 12000 else 280)
    }
    val root = writeFeed(docs)
    val sizes = docs.map(d => Files.size(root.resolve("all").resolve(d._1)))
    val target = Xml.splitTargetBytes(ss.sessionState.conf, ss.sparkContext.defaultParallelism,
      sizes)
    assert(sizes(5) > 2 * target && sizes.patch(5, Nil, 1).forall(_ <= target))
    val packed = Xml.readXmlNodePath(ss, root.resolve("all").toString, "/catalog/book")
    // unpacked, the eleven small files alone would be eleven tasks
    assert(packed.rdd.getNumPartitions > 1 && packed.rdd.getNumPartitions < 11)
    val single = docs.flatMap { case (name, _) =>
      rows(Xml.readXmlNodePath(ss, root.resolve(name.stripSuffix(".xml")).toString,
        "/catalog/book", targetSplitBytes = target))
    }
    val got = rows(packed)
    assert(got.size == 11 * 280 + 12000)
    assert(got == single, "packed split read reordered or changed records")
  }

  test("malformed documents: a truncated file or a stray end tag fails the read with file and offset") {
    val doc = (1 to 400).map(i => s"""  <book key="$i"><name>n$i</name></book>""")
      .mkString("<catalog>\n", "\n", "\n</catalog>\n")
    def dirOf(name: String, content: String) = Paths.get(tmpFile(name, content)).getParent.toString
    def failure(name: String, content: String, target: Long): String = {
      val e = intercept[Exception](Xml.readXmlNodePath(spark, dirOf(name, content),
        "/catalog/book", targetSplitBytes = target).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString(" | ")
      assert(msgs.contains("malformed XML") && msgs.contains(name), msgs)
      msgs
    }
    // cut inside the last record: as one whole-file range, and above the
    // target, where the file's last planned range reaches end of input
    val cut = doc.substring(0, doc.length - 40)
    assert(cut.length > 4 * 1024)
    for ((name, target) <- Seq("cut_small.xml" -> (1L << 30), "cut_big.xml" -> 1024L))
      assert(failure(name, cut, target).contains(s"at byte ${cut.length}: end of input"))
    // one end tag more than start tags
    for ((name, target) <- Seq("stray_small.xml" -> (1L << 30), "stray_big.xml" -> 1024L))
      assert(failure(name, doc + "</catalog>\n", target).contains(s"at byte ${doc.length}"))
    // a mismatched end tag inside a record balances: the record reaches
    // from_xml, whose PERMISSIVE mode routes it to the corrupt column
    val schema = StructType(Seq(StructField("_key", LongType), StructField("name", StringType),
      StructField("_corrupt", StringType)))
    val parsed = Xml.readXmlNodePath(spark,
        dirOf("mismatch.xml", doc.replace("<name>n7</name>", "<name>n7</nam>")), "/catalog/book")
      .select(from_xml(col("xml"), schema, java.util.Map.of("mode", "PERMISSIVE",
        "columnNameOfCorruptRecord", "_corrupt")).as("p"))
      .select(col("p._key"), col("p._corrupt").isNotNull).collect()
    assert(parsed.length == 400)
    assert(parsed.count(_.getBoolean(1)) == 1 && parsed.count(r => !r.isNullAt(0)) == 399)
  }
}
