package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}

/** Round-20 pins (optimization round).
  *
  * First family: schema-cache integrity under the round-20 changes —
  * (a) a REPLAYED streaming epoch must not seed the caches with the
  * replaying writer's shape (r19 ADVICE medium #1: the replay returns
  * the CURRENT latest version, possibly another writer's schema-evolved
  * commit; seeding stamped the narrow union onto it and evolved-column
  * reads could serve NULLs); (b) the sidecar fingerprint now ignores
  * commit-driven _log artifacts (log checkpoints, shards,
  * _last_checkpoint, branch refs) — it must STILL invalidate on a real
  * sidecar write landing between those artifacts.
  */
class Round20Spec extends AnyFunSuite {
  import TestSpark._

  test("replayed streaming epoch does not seed stale schema: the evolved " +
      "column serves real values after a crash-replay") {
    val dir = s"${Scratch.fresh("r20_replay", sf)}/t"
    import spark.implicits._
    // v0: narrow (k, v) table, union primed into the cache
    Acid.create(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "k", 1)
    Acid.snapshot(spark, dir).collect(): Unit
    // helper: stage one parquet file and hand its entry to the streaming
    // sink's commit — the REAL caller the r19 ADVICE flagged
    def stage(sub: String, df: org.apache.spark.sql.DataFrame,
        rows: Long, mn: Long, mx: Long): AcidWriteMessage = {
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$sub")
      val f = Files.list(Paths.get(dir, sub)).iterator().asScala
        .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
      AcidWriteMessage(s"$sub/$f", rows, mn, mx,
        bytes = Files.size(Paths.get(dir, sub, f)))
    }
    val narrow = Seq((3L, 30L)).toDF("k", "v").schema
    val sink = new AcidSqlStreamingWrite(dir, narrow, "q-r20")
    // epoch 0: fresh commit (v1), same-shape — seeds v1 from v0
    sink.commit(0L, Array(
      stage("s_e0", Seq((3L, 30L)).toDF("k", "v"), 1L, 3L, 3L)))
    // prime v1's union (the stale-seeding precondition)
    Acid.snapshot(spark, dir).collect(): Unit
    // ANOTHER writer commits a WIDE file (k, v, w) — v2's union gains w
    val wide = stage("s_other", Seq((100L, 1000L, 7L)).toDF("k", "v", "w"),
      1L, 100L, 100L)
    Acid.appendCommitExactlyOnce(dir,
      Seq(Acid.FileEntry(wide.path, wide.rows, wide.minKey, wide.maxKey,
        bytes = wide.bytes)), "other-writer", 0L): Unit
    val vWide = Acid.latestVersion(dir)
    // REPLAY of epoch 0 (crash re-delivery): high-water says done — the
    // commit must be a no-op that does NOT stamp the narrow union onto
    // the wide version
    sink.commit(0L, Array(
      stage("s_e0r", Seq((3L, 30L)).toDF("k", "v"), 1L, 3L, 3L)))
    assert(Acid.latestVersion(dir) == vWide, "replay must not commit")
    // the evolved column must read its stored value — a stale-seeded
    // union would serve NULL here
    val got = Acid.snapshot(spark, dir).filter(col("k") === 100L)
      .select(col("w")).collect()
    assert(got.length == 1 && !got(0).isNullAt(0) && got(0).getLong(0) == 7L,
      s"evolved column lost after replay: ${got.mkString(",")}")
  }

  test("replay tag: appendCommitExactlyOnceTagged reports appended=false " +
      "on a high-water replay and true on a fresh epoch") {
    val dir = s"${Scratch.fresh("r20_tag", sf)}/t"
    val (v0, a0) = Acid.appendCommitExactlyOnceTagged(dir, Seq.empty, "w", 0L)
    assert(v0 == 0 && a0)
    val (v1, a1) = Acid.appendCommitExactlyOnceTagged(dir, Seq.empty, "w", 1L)
    assert(v1 == 1 && a1)
    val (vr, ar) = Acid.appendCommitExactlyOnceTagged(dir, Seq.empty, "w", 1L)
    assert(vr == 1 && !ar, "replay must report appended=false")
    val (vr0, ar0) = Acid.appendCommitExactlyOnceTagged(dir, Seq.empty, "w", 0L)
    assert(vr0 == 1 && !ar0)
  }

  test("log-checkpoint artifacts don't invalidate the schema cache; a real " +
      "sidecar write landing after a checkpoint still does") {
    val root = Scratch.fresh("r20_fprint", sf)
    val cat = "r20fp"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    // push the table past the LogCheckpointInterval so c*.txt, shard
    // files and _last_checkpoint all exist and keep being rewritten
    (0 until 12).foreach(i =>
      spark.sql(s"INSERT INTO $cat.t VALUES ($i, ${i * 10})"))
    assert(Files.list(Paths.get(s"$root/t/_log")).iterator().asScala
      .exists(_.getFileName.toString.startsWith("c")),
      "fixture expected a log checkpoint to exist")
    assert(spark.table(s"$cat.t").count() == 12L)
    // a real sidecar mutation AFTER checkpoints exist must be visible on
    // the very next query (the fingerprint still covers sidecars)
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO val")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "val"))
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tag STRING")
    assert(spark.table(s"$cat.t").columns.toSeq == Seq("k", "val", "tag"))
    // and values still read correctly through the renamed column
    assert(spark.sql(s"SELECT sum(val) FROM $cat.t").head.getLong(0) == 660L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  /** Second family: the SPJ cost rule now follows a join key through a
    * Project ALIAS down to the scan's partition source column (r19
    * verdict wrong #5 — `SELECT lang AS l ... JOIN ON l = lang` used to
    * silently decline to a shuffle). Same values either way; the pin is
    * the exchange-free plan AND identical results vs the shuffled plan.
    */
  test("identstr SPJ through an aliased join key plans exchange-free " +
      "with identical results") {
    val root = Scratch.fresh("r20_spj_alias", sf)
    val cat = "r20sa"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    graft.Tables.documents(spark, sf)
      .select(col("doc_id").as("k"), col("lang"), col("n_chars"))
      .createOrReplaceTempView("r20_spj_src")
    spark.sql(s"DROP TABLE IF EXISTS $cat.a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.b")
    spark.sql(s"""CREATE TABLE $cat.a (k BIGINT, lang STRING, n_chars BIGINT)
                 |PARTITIONED BY (lang)""".stripMargin)
    spark.sql(s"INSERT INTO $cat.a SELECT k, lang, n_chars FROM r20_spj_src")
    spark.sql(s"""CREATE TABLE $cat.b (dim_n BIGINT, lang STRING)
                 |PARTITIONED BY (lang)""".stripMargin)
    spark.sql(s"""INSERT INTO $cat.b
                 |SELECT count(*) AS dim_n, lang FROM r20_spj_src
                 |GROUP BY lang""".stripMargin)
    val oldBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      // the LEFT side renames the key — the rule must resolve l -> lang
      val q = spark.sql(
        s"""SELECT al.l AS lang, count(*) AS n, max(b.dim_n) AS dim_n
           |FROM (SELECT lang AS l, n_chars FROM $cat.a) al
           |JOIN $cat.b b ON al.l = b.lang
           |GROUP BY al.l""".stripMargin)
      val plan = q.queryExecution.executedPlan.toString
      val rows = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(!plan.contains("Exchange"),
        s"aliased SPJ key must plan exchange-free, got:\n$plan")
      // identical values under the forced-shuffle plan (rule off)
      spark.conf.set("spark.graft.identstrSpj", "off")
      try {
        val q2 = spark.sql(
          s"""SELECT al.l AS lang, count(*) AS n, max(b.dim_n) AS dim_n
             |FROM (SELECT lang AS l, n_chars FROM $cat.a) al
             |JOIN $cat.b b ON al.l = b.lang
             |GROUP BY al.l""".stripMargin)
        assert(q2.queryExecution.executedPlan.toString.contains("Exchange"))
        val rows2 = q2.collect().map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
        assert(rows.toSeq == rows2.toSeq)
      } finally spark.conf.unset("spark.graft.identstrSpj")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldBc)
    spark.sql(s"DROP TABLE IF EXISTS $cat.a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.b")
  }

  /** Third family (optimization pass): commit-time schema-cache seeding.
    * Every commit whose shape proves the union seeds the merged-schema
    * cache at commit, so the table's FIRST post-commit read plans from
    * the manifest file index with ZERO Spark jobs — no distributed
    * listing, no mergeSchema footer-merge (1.3 s at 600 files before the
    * change). The pins: (a) the seeded union is byte-identical to what
    * mergeSchema inference derives; (b) frame construction after
    * create / append / positional-delete commits, SQL INSERT INTO /
    * UPDATE / INSERT OVERWRITE and a streaming epoch launches no job;
    * (c) a schema-EVOLVING commit does not inherit the parent's
    * narrower union.
    */
  private def jobsDuring[A](body: => A): (A, Seq[String]) = {
    val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        names.add(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name)
          .getOrElse("?")): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = body
      Thread.sleep(500) // drain the listener bus
      (a, names.asScala.toSeq)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("commit-time seeding: the first read after CREATE plans with zero " +
      "jobs and the seeded union equals mergeSchema inference") {
    val dir = s"${Scratch.fresh("r20_seed_create", sf)}/t"
    val t = graft.Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))
    // 40 files: above the 32-path parallel-listing threshold, so a
    // cache miss here would fire a distributed listing job
    Acid.create(spark, dir, t, "k", 40)
    val ((df, seeded), jobs) = jobsDuring {
      val df = Acid.snapshot(spark, dir)
      (df, Acid.mergedSchemaOf(spark, dir, 0))
    }
    assert(jobs.isEmpty, s"snapshot construction after CREATE fired jobs " +
      s"(listing/inference) — the commit-time seed must cover it: $jobs")
    val paths = Acid.readManifest(dir, 0).files.map(f => s"$dir/${f.path}")
    val inferred = spark.read.option("mergeSchema", "true")
      .parquet(paths: _*).schema
    assert(seeded.contains(inferred),
      s"seeded union ${seeded.map(_.catalogString)} != inferred " +
        inferred.catalogString)
    assert(df.count() == t.count())
  }

  test("commit-time seeding: same-shape library merge and positional " +
      "delete inherit; frame construction stays job-free") {
    val dir = s"${Scratch.fresh("r20_seed_delta", sf)}/t"
    val t = graft.Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))
    Acid.create(spark, dir, t, "k", 40)
    val mk = t.agg(max(col("k"))).head.getLong(0)
    // same-shape merge rewrites a file subset — the union is absorbing
    Acid.merge(spark, dir,
      t.filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
        .withColumn("price_cents", col("price_cents") + 777), "m")
    val (_, jMerge) = jobsDuring(Acid.snapshot(spark, dir))
    assert(jMerge.isEmpty,
      s"snapshot construction after same-shape merge fired jobs: $jMerge")
    // positional delete: same file SET, sidecar-only manifest change
    Acid.deleteWherePositional(spark, dir,
      col("k") % 10 === 6 && col("k") < lit(mk / 4), Some((0L, mk / 4)), "p")
    val (_, jPdv) = jobsDuring(Acid.snapshot(spark, dir))
    assert(jPdv.isEmpty,
      s"snapshot construction after positional delete fired jobs: $jPdv")
  }

  test("commit-time seeding: the first read after SQL INSERT INTO, UPDATE, " +
      "INSERT OVERWRITE and a streaming epoch plans with zero jobs") {
    val root = Scratch.fresh("r20_seed_sql", sf)
    val cat = "r20sq"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    import spark.implicits._
    val dir = s"$root/t"
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20), (3, 30)")
    spark.table(s"$cat.t").collect(): Unit // prime
    def firstRead(after: String): Unit = {
      val (_, jobs) = jobsDuring {
        (spark.table(s"$cat.t").schema, Acid.snapshot(spark, dir).schema)
      }
      assert(jobs.isEmpty, s"the first read after $after fired jobs: $jobs")
    }
    spark.sql(s"INSERT INTO $cat.t VALUES (4, 40)")
    firstRead("INSERT INTO")
    spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE k = 2")
    firstRead("UPDATE")
    spark.sql(s"INSERT OVERWRITE $cat.t VALUES (5, 50), (6, 60)")
    firstRead("INSERT OVERWRITE")
    // one streaming epoch through the SQL streaming sink's commit
    val epoch = Seq((7L, 70L)).toDF("k", "v")
    epoch.coalesce(1).write.mode("overwrite").parquet(s"$dir/s_e0")
    val f = Files.list(Paths.get(dir, "s_e0")).iterator().asScala
      .map(_.getFileName.toString).find(_.endsWith(".parquet")).get
    new AcidSqlStreamingWrite(dir, epoch.schema, "q-r20-seed").commit(0L,
      Array(AcidWriteMessage(s"s_e0/$f", 1L, 7L, 7L,
        bytes = Files.size(Paths.get(dir, "s_e0", f)))))
    firstRead("a streaming epoch")
    assert(spark.table(s"$cat.t").orderBy("k").as[(Long, Long)].collect()
      .toSeq == Seq((5L, 50L), (6L, 60L), (7L, 70L)))
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("commit-time seeding: a schema-EVOLVING merge does not inherit the " +
      "parent's narrower union") {
    val dir = s"${Scratch.fresh("r20_seed_evolve", sf)}/t"
    import spark.implicits._
    Acid.create(spark, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), "k", 2)
    Acid.snapshot(spark, dir).collect(): Unit
    Acid.merge(spark, dir,
      Seq((2L, 25L, 7L)).toDF("k", "v", "w"), "evo")
    val v1 = Acid.latestVersion(dir)
    val union = Acid.mergedSchemaOf(spark, dir, v1)
    assert(union.exists(_.fieldNames.contains("w")),
      s"evolved union must carry w, got ${union.map(_.catalogString)}")
    val rows = Acid.snapshot(spark, dir).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(rows.toSeq == Seq((1L, 10L, -1L), (2L, 25L, 7L), (3L, 30L, -1L)))
  }

  /** Fourth family: the CDF version-diff reads each side's files under
    * THEIR OWN version's footer union (r19 verdict next #2) — v0 files
    * under v0's stamped shape (no phantom evolved column on the old
    * side), post-evolution files under their version's union — and the
    * emitted rows are exactly the analytic deltas.
    */
  test("post-evolution CDF diff serves each version's own schema") {
    val dir = s"${Scratch.fresh("r20_cdf_evolve", sf)}/t"
    import spark.implicits._
    Acid.create(spark, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L)).toDF("k", "v"), "k", 2)
    // v1: schema-evolving update merge (adds w)
    Acid.merge(spark, dir, Seq((2L, 25L, 7L)).toDF("k", "v", "w"), "e")
    // v2: plain update touching the evolved region
    Acid.merge(spark, dir, Seq((2L, 26L, 8L)).toDF("k", "v", "w"), "u")
    val d01 = Acid.changeFeed(spark, dir, 0, 1)
      .orderBy(col("k")).collect()
    // the update row: old side predates w — old_w NULL, new_w stored
    assert(d01.length == 1)
    val r01 = d01.head
    assert(r01.getLong(r01.fieldIndex("k")) == 2L &&
      r01.getString(r01.fieldIndex("change_type")) == "update" &&
      r01.isNullAt(r01.fieldIndex("old_w")) &&
      r01.getLong(r01.fieldIndex("new_w")) == 7L &&
      r01.getLong(r01.fieldIndex("old_v")) == 20L &&
      r01.getLong(r01.fieldIndex("new_v")) == 25L)
    val d12 = Acid.changeFeed(spark, dir, 1, 2)
      .filter(col("change_type") === "update").orderBy(col("k")).collect()
    // post-evolution diff: BOTH sides carry w with real values
    assert(d12.length == 1)
    val r12 = d12.head
    assert(r12.getLong(r12.fieldIndex("k")) == 2L &&
      r12.getLong(r12.fieldIndex("old_w")) == 7L &&
      r12.getLong(r12.fieldIndex("new_w")) == 8L)
  }
}
