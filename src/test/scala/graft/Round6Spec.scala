package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Acid

/** Round-6 invariants: the CDF streaming source's offset/resume contract
  * (offsets are table versions; a restart from the checkpoint replays
  * exactly the unseen increments, never the whole history).
  */
class Round6Spec extends AnyFunSuite {
  import TestSpark._

  private def kv(sfDir: String) =
    Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))

  test("CDF stream resumes from its checkpoint: only unseen versions replay") {
    val base = Scratch.fresh("round6_cdf_resume", sf)
    val dir = s"$base/table"; val cp = s"$base/cp"; val out = s"$base/out"
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    Acid.create(spark, dir, kv(sf), "k", 8)
    Acid.merge(spark, dir,
      kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
        .withColumn("price_cents", col("price_cents") + 777), "u")
    def drain(): Unit = {
      val ss = spark.newSession()
      ss.conf.set("spark.sql.shuffle.partitions", "4")
      val q = ss.readStream.format("graft-acid-cdf").load(dir)
        .writeStream.trigger(Trigger.AvailableNow())
        .outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .start()
      q.awaitTermination()
    }
    drain()
    val afterFirst = spark.read.parquet(out)
    val n1 = afterFirst.count()
    assert(n1 == kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4)).count())
    assert(afterFirst.select(max(col("_commit_version"))).head.getLong(0) == 1L)
    // second commit AFTER the first drain; the resumed stream must emit
    // ONLY the v1→v2 increment
    val inserts = kv(sf).filter(col("k") % 100 === 0)
      .select((col("k") + mk + 1).as("k"),
        (col("k") * 3 + 45).as("price_cents"), lit("NEW").as("prio"))
    Acid.merge(spark, dir, inserts, "i")
    drain()
    val afterSecond = spark.read.parquet(out)
    assert(afterSecond.count() == n1 + inserts.count(),
      "resume must append exactly the new increment, not replay history")
    val byVersion = afterSecond.groupBy(col("_commit_version")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion.keySet == Set(1L, 2L))
    assert(byVersion(2L) == inserts.count())
    // and all v2 rows are inserts
    assert(afterSecond.filter(col("_commit_version") === 2L)
      .filter(col("change_type") =!= "insert").count() == 0L)
  }

  test("CDF admission control: maxVersionsPerTrigger bounds each micro-batch") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh("round6_cdf_admission", sf)
    val dir = s"$base/table"; val cp = s"$base/cp"; val out = s"$base/out"
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    Acid.create(spark, dir, kv(sf), "k", 8)
    // a 5-commit backlog before the stream ever starts
    (1 to 5).foreach { i =>
      Acid.merge(spark, dir,
        kv(sf).filter(col("k") % 50 === i && col("k") < lit(mk / 4))
          .withColumn("price_cents", col("price_cents") + i * 100L), s"w$i")
    }
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graft-acid-cdf")
      .option("maxVersionsPerTrigger", "2")
      .load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
    // complete drain: all five increments present exactly once
    val byVersion = got.groupBy(col("_commit_version")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byVersion.keySet == (1L to 5L).toSet, s"got versions ${byVersion.keySet}")
    (1 to 5).foreach { i =>
      assert(byVersion(i.toLong) ==
        kv(sf).filter(col("k") % 50 === i && col("k") < lit(mk / 4)).count())
    }
    // bounded batches: 5 versions at ≤2 per trigger needs ≥3 micro-batches
    val offsetFiles = {
      val st = java.nio.file.Files.list(java.nio.file.Paths.get(cp, "offsets"))
      try st.iterator().asScala.count(p => !p.getFileName.toString.startsWith("."))
      finally st.close()
    }
    assert(offsetFiles >= 3,
      s"backlog must drain in ≥3 bounded micro-batches (got $offsetFiles offsets)")
  }

  test("CDC-at-commit equals the derived diff, skips the join, and survives vacuum") {
    val base = Scratch.fresh("round6_cdc_commit", sf)
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    def build(dir: String, cdf: Boolean): Unit = {
      Acid.create(spark, dir, kv(sf), "k", 8)
      Acid.merge(spark, dir,
        kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
          .withColumn("price_cents", col("price_cents") + 777)
          .withColumn("prio", lit("PATCHED")), "u", writeCdf = cdf)
      Acid.merge(spark, dir,
        kv(sf).filter(col("k") % 100 === 0)
          .select((col("k") + mk + 1).as("k"),
            (col("k") * 3 + 45).as("price_cents"), lit("NEW").as("prio")), "i",
        writeCdf = cdf)
      Acid.deleteWhere(spark, dir,
        col("k") % 10 === 6 && col("k") < lit(mk / 4),
        Some((0L, mk / 4 - 1)), "del", writeCdf = cdf)
    }
    val withCdc = s"$base/cdc"; val noCdc = s"$base/plain"
    build(withCdc, cdf = true); build(noCdc, cdf = false)
    val cols = Seq("k", "old_price_cents", "old_prio",
      "new_price_cents", "new_prio", "change_type")
    (0 until 3).foreach { v =>
      assert(Acid.readManifest(withCdc, v + 1).cdcPath.isDefined,
        s"commit v${v + 1} must record its CDC path")
      val fast = Acid.changeFeed(spark, withCdc, v, v + 1)
      // the fast path is a plain file read — no join in the plan
      assert(!fast.queryExecution.optimizedPlan.toString.contains("Join"),
        s"v$v→${v + 1}: CDC read must not re-derive the diff join")
      val a = fast.select(cols.map(col): _*).collect().toSet
      val b = Acid.changeFeed(spark, noCdc, v, v + 1)
        .select(cols.map(col): _*).collect().toSet
      assert(a == b, s"v$v→${v + 1}: CDC rows diverge from the derived diff")
      assert(a.nonEmpty)
    }
    // retention: vacuum keeps CDC of retained versions, reclaims the rest
    val expectV3 = Acid.changeFeed(spark, withCdc, 2, 3).count()
    Acid.vacuum(spark, withCdc, retainFrom = 2)
    assert(Acid.changeFeed(spark, withCdc, 2, 3).count() == expectV3,
      "retained increment must replay from its CDC file after vacuum")
    assert(scala.util.Try(Acid.readManifest(withCdc, 0)).isFailure)
  }

  test("V2 streaming sink: writeStream into the catalog table is exactly-once across restarts") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Scratch.fresh("round6_stream_sink_v2", sf)
    val dir = s"$base/table"; val inbox = s"$base/inbox"; val cp = s"$base/cp"
    val rows = kv(sf).filter(col("k") % 50 === 0)
    rows.coalesce(2).write.parquet(s"$inbox/batch0")
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.sql("DROP TABLE IF EXISTS round6_stream_t")
    ss.sql(
      s"""CREATE TABLE round6_stream_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    def drain(): Unit = {
      val q = ss.readStream.schema(rows.schema).parquet(s"$inbox/batch*")
        .writeStream.trigger(Trigger.AvailableNow())
        .option("checkpointLocation", cp)
        .toTable("round6_stream_t")
      q.awaitTermination()
    }
    drain()
    val n0 = rows.count()
    assert(Acid.snapshot(spark, dir).count() == n0)
    val vAfterFirst = Acid.latestVersion(dir)
    // restart with NO new data: the replayed query must not re-append
    drain()
    assert(Acid.latestVersion(dir) == vAfterFirst, "empty restart must be a no-op")
    assert(Acid.snapshot(spark, dir).count() == n0)
    // restart with one NEW arrival file: exactly the delta appends, once
    val more = kv(sf).filter(col("k") % 50 === 7)
    more.coalesce(1).write.parquet(s"$inbox/batch1")
    drain()
    assert(Acid.snapshot(spark, dir).count() == n0 + more.count(),
      "resumed stream must append exactly the new arrivals")
    // the streaming writer's per-query high-water mark is in the manifest
    val hw = Acid.readManifest(dir, Acid.latestVersion(dir)).batchHw
    assert(hw.keys.exists(_.startsWith("stream-")),
      s"streaming epochs must be deduped per query identity (got $hw)")
    ss.sql("DROP TABLE round6_stream_t")
  }

  test("Avro read splits WITHIN one container file on sync markers") {
    import graft.sources.Avro
    import org.apache.spark.sql.types._
    val base = Scratch.fresh("round6_avro_split", sf)
    val t = Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))
    Avro.write(t.coalesce(1), s"$base/one") // ONE container file
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("price_cents", LongType), StructField("prio", StringType)))
    val whole = Avro.read(spark, s"$base/one", schema)
    val wholeAgg = whole.agg(count(lit(1)), sum(col("price_cents"))).head
    // force small splits: the single file must parallelize across tasks
    val split = Avro.read(spark, s"$base/one", schema, maxSplitBytes = 4096L)
    assert(split.rdd.getNumPartitions > 1,
      s"one Avro file must split into >1 tasks (got ${split.rdd.getNumPartitions})")
    assert(split.agg(count(lit(1)), sum(col("price_cents"))).head == wholeAgg,
      "split read must produce identical results")
  }

  test("XML intra-file split matches the single-task chunker on the predicate fixture") {
    import java.nio.file.{Files, Paths}
    import graft.sources.Xml
    val dir = Scratch.fresh("round6_xml_split", sf)
    // the srcXmlNodePathPred fixture shape, as ONE file: ancestor
    // predicates (tech shelves), leaf predicates (fr books), path decoys
    // (review/book), nested en books inside captured records, plus
    // comments and CDATA straddling record content
    val rows = Tables.nation(spark, sf)
      .select(col("n_nationkey").cast("long"), col("n_name"),
        col("n_regionkey").cast("long"))
      .orderBy(col("n_nationkey")).collect()
    val body = rows.map { r =>
      val (k, n, g) = (r.getLong(0), r.getString(1), r.getLong(2))
      val genre = if (g % 2 == 0) "fiction" else "tech"
      val lang = if (k % 2 == 0) "en" else "fr"
      s"""  <shelf genre="$genre"><!-- shelf $k -->""" +
        s"""<book lang="$lang" key="$k"><name><![CDATA[$n]]></name><region>$g</region>""" +
        s"""<related><book lang="en" key="${k + 2000}"><name>REL</name><region>9</region></book></related></book>""" +
        s"""<book lang="fr" key="${k + 3000}"><name>ALT</name><region>7</region></book>""" +
        s"""<review stars="4"><book lang="en" key="${k + 1000}"><name>DECOY</name><region>8</region></book></review>""" +
        "</shelf>"
    }.mkString("\n")
    Files.write(Paths.get(dir, "cat_all.xml"),
      s"<catalog>\n$body\n</catalog>".getBytes("UTF-8"))
    val nodePath = """/catalog/shelf[@genre='fiction']/book[@lang="en"]"""
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_key", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("region", org.apache.spark.sql.types.LongType)))
    def parsed(df: org.apache.spark.sql.DataFrame) = df
      .withColumn("p", from_xml(col("xml"), schema))
      .select(col("p._key"), col("p.name"), col("p.region"))
      .collect().toSet
    val single = spark.createDataset(StaxOracle.records(dir, nodePath))(
      org.apache.spark.sql.Encoders.STRING).toDF("xml")
    val split = Xml.readXmlNodePath(spark, dir, nodePath, targetSplitBytes = 512L)
    assert(split.rdd.getNumPartitions > 1,
      s"one file must split into >1 tasks (got ${split.rdd.getNumPartitions})")
    val s1 = parsed(single); val s2 = parsed(split)
    assert(s1 == s2, s"split output diverged: only-single=${s1 -- s2} only-split=${s2 -- s1}")
    assert(s1.nonEmpty)
  }

  test("CDF stream refuses below the vacuum horizon instead of emitting a partial feed") {
    val base = Scratch.fresh("round6_cdf_horizon", sf)
    val dir = s"$base/table"; val cp = s"$base/cp"; val out = s"$base/out"
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    Acid.create(spark, dir, kv(sf), "k", 8)
    Acid.merge(spark, dir,
      kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
        .withColumn("price_cents", col("price_cents") + 777), "u")
    // horizon passes v0 BEFORE the stream ever starts: replaying 0→1
    // needs v0's manifest, which is gone — the source must throw, not
    // fabricate an empty/partial batch
    Acid.vacuum(spark, dir, retainFrom = 1)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    val q = ss.readStream.format("graft-acid-cdf").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .start()
    val failed =
      try { q.awaitTermination(); false }
      catch { case _: org.apache.spark.sql.streaming.StreamingQueryException => true }
    assert(failed, "below-horizon CDF replay must refuse")
  }

  /** Build the 4-commit CDF fixture (writeCdf update merge, writeCdf
    * insert merge, CDC-less pure append through SQL `INSERT INTO`,
    * writeCdf pruned delete) under a fresh catalog; returns (catalog
    * name, table dir, session with the catalog bound). */
  private def changesFixture(tag: String): (String, String, org.apache.spark.sql.SparkSession) = {
    val root = Scratch.fresh(tag, sf)
    val cat = tag + "_" + java.nio.file.Paths.get(sf).getFileName.toString.replace('.', '_')
    val dir = s"$root/t"
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    Acid.create(spark, dir, kv(sf), "k", 8)
    Acid.merge(spark, dir,
      kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
        .withColumn("price_cents", col("price_cents") + 777)
        .withColumn("prio", lit("PATCHED")), "u", writeCdf = true)
    Acid.merge(spark, dir,
      kv(sf).filter(col("k") % 100 === 0)
        .select((col("k") + mk + 1).as("k"),
          (col("k") * 3 + 45).as("price_cents"), lit("NEW").as("prio")), "i",
      writeCdf = true)
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    ss.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    kv(sf).createOrReplaceTempView(s"${tag}_src")
    spark.sql(s"""INSERT INTO $cat.t
                 |SELECT k + ${2 * mk} + 2, k * 5 + 11, 'INS2'
                 |FROM ${tag}_src WHERE k % 97 = 0""".stripMargin)
    Acid.deleteWhere(spark, dir,
      col("k") % 10 === 6 && col("k") < lit(mk / 4),
      Some((0L, mk / 4 - 1)), "del", writeCdf = true)
    (cat, dir, ss)
  }

  test("catalog .changes table == unpaired format-source CDF == its own stream") {
    val (cat, dir, ss) = changesFixture("round6_changes_parity")
    val outCols = Seq(col("k"), col("price_cents"), col("prio"),
      col("_change_type"), col("_commit_version"))

    // surface 1: batch read of the metadata table
    val batch = ss.read.table(s"$cat.t.changes").select(outCols: _*)

    // surface 2: the deriving graft-acid-cdf stream, UNPAIRED into the
    // Delta shape (update → preimage+postimage, delete → preimage,
    // insert → postimage) — the done-criterion parity check
    val base2 = Scratch.fresh("round6_changes_fmt", sf)
    val q = ss.readStream.format("graft-acid-cdf").load(dir)
      .writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", s"$base2/out").option("checkpointLocation", s"$base2/cp")
      .start()
    q.awaitTermination()
    val fmt = ss.read.parquet(s"$base2/out")
    val pre = fmt.filter(col("change_type").isin("update", "delete"))
      .select(col("k"), col("old_price_cents").as("price_cents"),
        col("old_prio").as("prio"),
        when(col("change_type") === "update", lit("update_preimage"))
          .otherwise(lit("delete")).as("_change_type"),
        col("_commit_version"))
    val post = fmt.filter(col("change_type").isin("update", "insert"))
      .select(col("k"), col("new_price_cents").as("price_cents"),
        col("new_prio").as("prio"),
        when(col("change_type") === "update", lit("update_postimage"))
          .otherwise(lit("insert")).as("_change_type"),
        col("_commit_version"))
    val unpaired = pre.unionByName(post)
    assert(batch.exceptAll(unpaired).count() == 0L &&
      unpaired.exceptAll(batch).count() == 0L,
      "batch .changes must equal the unpaired format-source feed")

    // surface 3: the metadata table STREAMED drains to the same rows
    val base3 = Scratch.fresh("round6_changes_stream", sf)
    val q2 = ss.readStream.table(s"$cat.t.changes")
      .writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", s"$base3/out").option("checkpointLocation", s"$base3/cp")
      .start()
    q2.awaitTermination()
    val streamed = ss.read.parquet(s"$base3/out").select(outCols: _*)
    assert(streamed.exceptAll(batch).count() == 0L &&
      batch.exceptAll(streamed).count() == 0L,
      "streamed .changes must equal the batch read")

    // the pure-append commit arrived as inserts tagged with ITS version
    // (3), alongside the CDC-file insert commit (2) — both routes live
    val insVersions = batch.filter(col("_change_type") === "insert")
      .select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(insVersions == Set(2L, 3L), s"got insert versions $insVersions")
  }

  test(".changes prunes columns and bounds versions via startingVersion") {
    val (cat, _, ss) = changesFixture("round6_changes_bounds")
    // pruned projection (no data columns at all)
    val perVersion = ss.read.table(s"$cat.t.changes")
      .groupBy(col("_commit_version")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perVersion.keySet == Set(1L, 2L, 3L, 4L))
    // update rows unpair into exactly two emissions per changed key
    val v1 = ss.read.table(s"$cat.t.changes")
      .filter(col("_commit_version") === 1L)
    assert(v1.count() == perVersion(1L))
    assert(v1.filter(col("_change_type") === "update_preimage").count() * 2 == v1.count())
    // startingVersion is an EXCLUSIVE lower bound, same as the format
    // source's startVersion: only later commits replay
    val tail = ss.read.option("startingVersion", "2").table(s"$cat.t.changes")
      .select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(tail == Set(3L, 4L), s"got $tail")
  }

  test(".changes refuses a rewrite commit that persisted no CDC") {
    val root = Scratch.fresh("round6_changes_refuse", sf)
    val cat = "round6_chref_" + java.nio.file.Paths.get(sf).getFileName.toString.replace('.', '_')
    val dir = s"$root/t"
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    Acid.create(spark, dir, kv(sf), "k", 8)
    // a REWRITING commit without CDC: not derivable inside a V2 partition
    Acid.merge(spark, dir,
      kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
        .withColumn("price_cents", col("price_cents") + 1), "u")
    val ss = spark.newSession()
    ss.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    ss.conf.set(s"spark.sql.catalog.$cat.root", root)
    val e = intercept[Exception] {
      ss.read.table(s"$cat.t.changes").count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: messages(x.getCause))
    assert(messages(e).exists(m => m != null && m.contains("writeCdf")),
      s"refusal must name the writeCdf remedy, got: ${e.getMessage}")
  }
}
