package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}
import graft.sources.Acid.FileEntry

/** Write-task file stats. Every Acid DataFrame writer stamps its new
  * files' `FileEntry`s from aggregates computed inside the write tasks;
  * the grouped read-back of the same staged files (`Acid.statsOf`, the
  * path CONVERT keeps) is the oracle they must equal byte for byte. The
  * listener pins hold the point of the change: no commit reads back what
  * it just wrote. */
class WriteStatsSpec extends AnyFunSuite {
  import TestSpark._

  /** Rows exercising every stats tier: a NULL key, NaN / -0.0 / NULL
    * doubles, dates, strings past the bound truncation length, a long
    * column whose per-file sum overflows, timestamps, ints and floats. */
  private def rich(lo: Long, hi: Long, nullKey: Boolean = false): DataFrame = {
    val wide = "w" * (Acid.CStatsBoundLen + 9)
    spark.range(lo, hi).coalesce(1).selectExpr(
      (if (nullKey) s"CASE WHEN id = ${lo + 3} THEN NULL ELSE id END" else "id") + " AS k",
      "id % 13 AS g",
      "CASE WHEN id % 7 = 0 THEN CAST('NaN' AS DOUBLE) " +
        "WHEN id % 7 = 1 THEN CAST('-0.0' AS DOUBLE) " +
        "WHEN id % 7 = 2 THEN NULL ELSE id * 1.5 - 20 END AS d",
      "date_add(DATE'2024-01-01', CAST(id % 40 AS INT)) AS dt",
      s"CASE WHEN id % 5 = 0 THEN NULL ELSE concat('$wide', CAST(id % 17 AS STRING), 'é') END AS s",
      "CASE WHEN id % 2 = 0 THEN 9223372036854775000 ELSE id END AS big",
      "timestamp_micros(1704067200000000 + id * 3600000000) AS ts",
      "CAST(id % 100 AS INT) AS i",
      "CASE WHEN id % 3 = 0 THEN CAST('-0.0' AS FLOAT) ELSE CAST(id AS FLOAT) END AS f")
  }

  /** The entries of `now` that `before` does not hold. */
  private def added(before: Seq[FileEntry], now: Seq[FileEntry]): Seq[FileEntry] = {
    val old = before.map(_.path).toSet
    now.filterNot(e => old(e.path))
  }

  private def files(dir: String): Seq[FileEntry] =
    Acid.readManifest(dir, Acid.latestVersion(dir)).files

  /** Each staged directory's stamped entries equal the read-back's over
    * the same files (both after `post`, which drops what the writer sets
    * beyond the stats). */
  private def assertOracle(dir: String, stamped: Seq[FileEntry], key: String,
      col2: Option[String] = None, stampTransforms: Boolean = false,
      post: FileEntry => FileEntry = identity): Unit = {
    assert(stamped.nonEmpty, "the writer added no entries")
    stamped.groupBy(e => e.path.substring(0, e.path.lastIndexOf('/'))).foreach {
      case (dd, es) =>
        val read = Acid.statsOf(spark, dir, dd, key, col2,
          stampTransforms = stampTransforms).map(post)
        val got = es.map(post).sortBy(_.path)
        assert(got.map(Acid.renderEntry) == read.map(Acid.renderEntry), s"stage $dd")
        assert(got == read, s"stage $dd")
    }
  }

  test("every library writer's stamped entries equal the read-back") {
    val dir = s"${Scratch.fresh("ws_lib", sf)}/t"
    Acid.create(spark, dir, rich(0, 400, nullKey = true), "k", 4)
    val v0 = files(dir)
    assertOracle(dir, v0, "k")
    // the stats tiers the fixture is built to reach all stamped
    assert(v0.exists(_.minKey == Long.MinValue), "null key widens the range")
    assert(v0.forall(e => e.nsums.map(_._1).contains("i") &&
      !e.nsums.map(_._1).contains("big")), "overflowing sum not stamped")
    assert(v0.forall(e => e.fstats.map(_._1).toSet == Set("d", "f")))
    assert(v0.forall(e => e.cexact.exists { case (c, a, b) => c == "s" && !a && !b }))

    def step(body: => Any)(check: Seq[FileEntry] => Unit): Unit = {
      val before = files(dir)
      body
      check(added(before, files(dir)))
    }
    step(Acid.merge(spark, dir, rich(100, 150).withColumn("i", lit(7)), "ws"))(
      assertOracle(dir, _, "k", stampTransforms = true))
    step(Acid.deleteWhere(spark, dir, col("k").between(200, 210), Some((200L, 210L)), "ws"))(
      assertOracle(dir, _, "k", stampTransforms = true))
    step(Acid.optimizeRange(spark, dir, 0L, 250L, 2))(
      assertOracle(dir, _, "k", stampTransforms = true))
    step(Acid.optimize(spark, dir, 3))(assertOracle(dir, _, "k"))
    step(Acid.optimizeZorder(spark, dir, "g", 2))(assertOracle(dir, _, "k", Some("g")))
    // optimizeRange over a col2-stamped layout carries the second column
    step(Acid.optimizeRange(spark, dir, 0L, 400L, 1))(assertOracle(dir, _, "k", Some("g")))

    // the four branch writers
    Acid.createBranch(spark, dir, "b")
    def branchStep(body: => Any)(check: Seq[FileEntry] => Unit): Unit = {
      val before = Acid.branchFilesAt(dir, "b", Acid.branchHead(dir, "b"))
      body
      check(added(before, Acid.branchFilesAt(dir, "b", Acid.branchHead(dir, "b"))))
    }
    branchStep(Acid.writeToBranch(spark, dir, "b", rich(1000, 1100)))(assertOracle(dir, _, "k"))
    branchStep(Acid.mergeBranch(spark, dir, "b", rich(1050, 1060).withColumn("i", lit(3))))(
      assertOracle(dir, _, "k", stampTransforms = true))
    branchStep(Acid.deleteOnBranch(spark, dir, "b", col("k") === 1070, Some((1070L, 1070L))))(
      assertOracle(dir, _, "k", stampTransforms = true))
    branchStep(Acid.optimizeBranch(spark, dir, "b", 2))(
      assertOracle(dir, _, "k", stampTransforms = true))
  }

  test("partitioned, transform-partitioned and column-mapped writers equal the read-back") {
    val root = Scratch.fresh("ws_part", sf)
    // createPartitioned / replacePartition stamp the partition column
    val pdir = s"$root/p"
    Acid.createPartitioned(spark, pdir, rich(0, 300), "k", "g", 2)
    assertOracle(pdir, files(pdir), "k", Some("g"))
    val before = files(pdir)
    Acid.replacePartition(spark, pdir, "g", 3L,
      rich(0, 300).where(col("g") === 3).withColumn("i", lit(1)), 2, "ws")
    assertOracle(pdir, added(before, files(pdir)), "k", Some("g"))

    // a days(ts) table: rewrites fuse the transform stamps into the stats
    val cat = "ws_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val tdir = s"$root/ev"
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, s STRING, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    spark.range(60).coalesce(1).selectExpr("id AS k",
      "timestamp_micros(CAST(1704067200000000 + (id DIV 6) * 86400000000 AS BIGINT)) AS ts",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE CAST(id AS STRING) END AS s",
      "id AS v").createOrReplaceTempView("ws_ev_src")
    (1 to 2).foreach(_ => spark.sql(s"INSERT INTO $cat.ev SELECT * FROM ws_ev_src WHERE k < 30"))
    spark.sql(s"INSERT INTO $cat.ev SELECT * FROM ws_ev_src WHERE k >= 30")
    val t0 = files(tdir)
    Acid.merge(spark, tdir, spark.table("ws_ev_src").where(col("k") === 40)
      .withColumn("v", lit(-1L)), "ws")
    val t1 = files(tdir)
    val merged = added(t0, t1)
    assert(merged.exists(_.stats2.exists(_._1 == "days(ts)")))
    assertOracle(tdir, merged, "k", stampTransforms = true)
    Acid.deleteWhere(spark, tdir, col("k") === 41, Some((41L, 41L)), "ws")
    assertOracle(tdir, added(t1, files(tdir)), "k", stampTransforms = true)
    // optimizePartitions pins each compacted value on its own
    val t2 = files(tdir)
    assert(Acid.optimizePartitions(spark, tdir, 1)._1 > 0)
    assertOracle(tdir, added(t2, files(tdir)), "k", post = _.copy(stats2 = None))
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")

    // a column-mapped table: writers stamp PHYSICAL names
    val cdir = s"$root/cm"
    spark.sql(s"DROP TABLE IF EXISTS $cat.cm")
    spark.sql(s"CREATE TABLE $cat.cm (k BIGINT, v BIGINT, s STRING, d DOUBLE)")
    spark.sql(s"INSERT INTO $cat.cm SELECT id, id * 3, CAST(id AS STRING), " +
      "id / 7.0 FROM range(50)")
    spark.sql(s"ALTER TABLE $cat.cm RENAME COLUMN v TO amount")
    spark.sql(s"ALTER TABLE $cat.cm RENAME COLUMN s TO label")
    val c0 = files(cdir)
    Acid.merge(spark, cdir, spark.range(10, 20).selectExpr("id AS k",
      "id AS amount", "'x' AS label", "CAST('NaN' AS DOUBLE) AS d"), "ws")
    val c1 = files(cdir)
    assertOracle(cdir, added(c0, c1), "k", stampTransforms = true)
    Acid.optimize(spark, cdir, 2)
    assertOracle(cdir, added(c1, files(cdir)), "k")
    spark.sql(s"DROP TABLE IF EXISTS $cat.cm")
  }

  test("CHECK tables: valid writes equal the read-back, a violation commits nothing") {
    val dir = s"${Scratch.fresh("ws_check", sf)}/t"
    Acid.create(spark, dir, rich(0, 200), "k", 2, Some("i >= 0 AND s IS NOT NULL OR k % 5 = 0"))
    assertOracle(dir, files(dir), "k")
    val v = Acid.latestVersion(dir)
    val before = files(dir)
    Acid.merge(spark, dir, rich(50, 80), "ws")
    assertOracle(dir, added(before, files(dir)), "k", stampTransforms = true)
    val v1 = Acid.latestVersion(dir)
    assert(v1 == v + 1)
    val bad = Try(Acid.merge(spark, dir, rich(60, 70).withColumn("i", lit(-1)), "wsbad"))
    assert(bad.failed.toOption.exists(_.isInstanceOf[Acid.ConstraintViolation]), bad)
    assert(Acid.latestVersion(dir) == v1)
    val staged = Files.list(Paths.get(dir))
    try assert(!staged.iterator().asScala.exists(_.getFileName.toString.contains("wsbad")))
    finally staged.close()
  }

  /** The result-stage name (call site) of every job `body` starts. */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.add((e.jobId, e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("?"))): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      Thread.sleep(500) // drain the listener bus
      (a, names.asScala.toSeq.sortBy(_._1).map(_._2))
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def isWrite(job: String) = job.startsWith("writeParquetWithStats at ")

  test("deletion-vector writers count their sidecars in the write; no job follows it") {
    val dir = s"${Scratch.fresh("ws_dv", sf)}/t"
    Acid.create(spark, dir, rich(0, 300), "k", 3)
    /** Per-file sidecar row counts and the new-delete count, read back. */
    def readBack(sidecar: String, newCol: String): (Map[String, Long], Long) = {
      val rows = spark.read.parquet(s"$dir/$sidecar").groupBy("fname")
        .agg(count(lit(1)), sum(col(newCol))).collect()
      (rows.map(r => r.getString(0) -> r.getLong(1)).toMap, rows.map(_.getLong(2)).sum)
    }
    def assertDv(deleted: Long, sidecar: FileEntry => Option[(String, Long)],
        newCol: String): Unit = {
      val tagged = files(dir).filter(e => sidecar(e).isDefined)
      assert(tagged.nonEmpty)
      val (perFile, nnew) = readBack(sidecar(tagged.head).get._1, newCol)
      assert(deleted == nnew)
      tagged.foreach { e =>
        val fn = e.path.substring(e.path.lastIndexOf('/') + 1)
        assert(e.dvRows.contains(perFile.getOrElse(fn, 0L)), e)
        assert(sidecar(e).get._2 == perFile.values.sum, e)
      }
    }
    // key-level: a first delete, then one folding the prior sidecar in
    val (d1, j1) = jobsDuring(Acid.deleteWhereMor(spark, dir,
      col("k").between(10, 20), Some((10L, 20L)), "ws"))
    assertDv(d1._1, _.dv, "__gnw")
    assert(d1._1 == 11L)
    assert(j1.nonEmpty && isWrite(j1.last), j1)
    val (d2, j2) = jobsDuring(Acid.deleteWhereMor(spark, dir,
      col("k").between(15, 130), Some((15L, 130L)), "ws"))
    assertDv(d2._1, _.dv, "__gnw")
    assert(d2._1 == 110L)
    assert(isWrite(j2.last), j2)
    // a snapshot of a key-level-DV table lists and infers nothing: the
    // sidecar directories' part files come from a driver listing
    val (_, js) = jobsDuring(Acid.snapshot(spark, dir))
    assert(!js.exists(_.contains("parquet at Acid.scala")), js)
    assert(Acid.snapshot(spark, dir).count() == 300L - 121L)

    val pdir = s"${Scratch.fresh("ws_pdv", sf)}/t"
    Acid.create(spark, pdir, rich(0, 300), "k", 3)
    val (p1, jp1) = jobsDuring(Acid.deleteWherePositional(spark, pdir,
      col("i") === 7, None, "ws"))
    assert(p1._1 == 3L)
    assert(isWrite(jp1.last), jp1)
    val (p2, jp2) = jobsDuring(Acid.deleteWherePositional(spark, pdir,
      col("i") === 8 || col("i") === 7, None, "ws"))
    assert(p2._1 == 3L)
    assert(isWrite(jp2.last), jp2)
    val tagged = files(pdir).filter(_.pdv.isDefined)
    val rows = spark.read.parquet(s"$pdir/${tagged.head.pdv.get._1}").groupBy("fname")
      .agg(count(lit(1))).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    tagged.foreach { e =>
      assert(e.dvRows.contains(rows.getOrElse(e.path.substring(e.path.lastIndexOf('/') + 1), 0L)))
      assert(e.pdv.get._2 == 6L)
    }
  }

  test("merge and optimize run no job after their write job") {
    val dir = s"${Scratch.fresh("ws_jobs", sf)}/t"
    Acid.create(spark, dir, rich(0, 300), "k", 3)
    val (_, jm) = jobsDuring(Acid.merge(spark, dir, rich(40, 60), "ws"))
    assert(jm.count(isWrite) == 1 && isWrite(jm.last), jm)
    val (_, jo) = jobsDuring(Acid.optimize(spark, dir, 2))
    assert(jo.count(isWrite) == 1 && isWrite(jo.last), jo)
  }

  test("the stats writer leaves the data files as df.write does") {
    val root = Scratch.fresh("ws_bytes", sf)
    val df = rich(0, 500, nullKey = true).repartitionByRange(3, col("k"))
    val opts = Map("parquet.bloom.filter.enabled#k" -> "true",
      "parquet.bloom.filter.expected.ndv#k" -> "400")
    df.write.options(opts).mode("overwrite").parquet(s"$root/plain")
    val stats = org.apache.spark.sql.GraftSqlBridge.writeParquetWithStats(
      df, s"$root/tracked", opts, Seq(count(lit(1)).as("n")), None)
    def parts(d: String) = {
      val st = Files.list(Paths.get(root, d))
      try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        .sortBy(_.getFileName.toString.take(10))
      finally st.close()
    }
    val (a, b) = (parts("plain"), parts("tracked"))
    assert(a.size == b.size && a.size == 3)
    a.zip(b).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(Files.readAllBytes(x), Files.readAllBytes(y)), (x, y))
    }
    assert(stats.map(_._2.getLong(0)).sum == 500L)
    assert(stats.map(_._1).sorted == b.map(_.toAbsolutePath.toString).sorted)
  }
}
