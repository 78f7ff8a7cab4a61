package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Acid

/** Invariants of the ACID manifest-log table format (SURVEY §2.10) that the
  * DuckDB oracle cannot see: physical file immutability under MERGE, the
  * broadcast shape of the merge legs, log monotonicity under conflict, and
  * vacuum's liveness guarantee.
  */
class AcidSpec extends AnyFunSuite {
  import TestSpark._

  private def kv(sfDir: String) =
    Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))

  private def sha(p: java.nio.file.Path): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map("%02x".format(_)).mkString

  private def dataFiles(dir: String): Map[String, String] = {
    val root = Paths.get(dir)
    val w = Files.walk(root)
    try w.iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString -> sha(p)).toMap
    finally w.close()
  }

  private def freshTable(tag: String): String = {
    val dir = Scratch.fresh(tag, sf)
    Acid.create(spark, dir, kv(sf), "k", 8)
    dir
  }

  private def lowQuarterUpdates(sfDir: String) = {
    val mk = Tables.orders(spark, sfDir).agg(max(col("o_orderkey"))).head.getLong(0)
    kv(sfDir).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
      .withColumn("price_cents", col("price_cents") + 777)
      .withColumn("prio", lit("PATCHED"))
  }

  test("MERGE prunes: untouched files are carried forward byte-identical") {
    val dir = freshTable("acid_spec_prune")
    val before = dataFiles(dir)
    val v0 = Acid.readManifest(dir, 0)
    val r = Acid.merge(spark, dir, lowQuarterUpdates(sf), "spec")
    assert(r.version == 1 && !r.skipped)
    // clustered low-quarter batch must not touch the whole layout
    assert(r.filesRewritten >= 1 && r.filesRewritten < r.filesTotal,
      s"rewrote ${r.filesRewritten}/${r.filesTotal}")
    val v1 = Acid.readManifest(dir, 1)
    val carried = v0.files.map(_.path).toSet intersect v1.files.map(_.path).toSet
    assert(carried.size == r.filesTotal - r.filesRewritten)
    val after = dataFiles(dir)
    carried.foreach { p =>
      assert(after(p) == before(p), s"carried file $p changed bytes")
    }
    // v0's rewritten files still exist on disk (time travel) until vacuum
    v0.files.map(_.path).foreach(p => assert(after.contains(p)))
  }

  test("merge legs only ever build batch-sized sets, as BroadcastHashJoins") {
    // Plan-shape probe on the exact join shapes mergeAt builds: the update
    // leg probes the touched scan against the broadcast batch; the insert
    // leg anti-joins the batch against the broadcast MATCHED-key set (≤
    // |batch|, derived by a broadcast semi-join). Every build side is
    // batch-bounded — the property that keeps per-batch cost tracking batch
    // locality, not table size, at 100 TB.
    val target = kv(sf)
    val batch  = lowQuarterUpdates(sf)
    val upd = target.join(broadcast(batch), target("k") === batch("k"), "left_outer")
    val matched = target.select(col("k"))
      .join(broadcast(batch.select(col("k"))), Seq("k"), "left_semi")
    val ins = batch.join(broadcast(matched), Seq("k"), "left_anti")
    assert(upd.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val insPlan = ins.queryExecution.executedPlan.toString
    assert(insPlan.contains("BroadcastHashJoin"), insPlan)
  }

  test("stats skipping scans a strict file subset with the exact result") {
    val dir = freshTable("acid_spec_skip")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    val (df, scanned, total) = Acid.scanRange(spark, dir, mk / 2, mk / 2 + mk / 8)
    assert(scanned >= 1 && scanned < total, s"scanned $scanned/$total")
    val full = Acid.snapshot(spark, dir)
      .filter(col("k").between(mk / 2, mk / 2 + mk / 8)).count()
    assert(df.count() == full)
  }

  test("bloom skipping: deleted-key probes reject files that min/max cannot") {
    val dir = freshTable("acid_spec_bloom")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    Acid.deleteWhere(spark, dir, col("k") % 7 === 3 && col("k") > lit(mk / 2),
      Some((mk / 2 + 1, Long.MaxValue)), "carve")
    val beforeSum = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    val v = Acid.buildBloom(spark, dir)
    // metadata-only commit: one more version, identical data
    val m = Acid.readManifest(dir, v)
    assert(m.files.forall(_.bloom.isDefined))
    assert(Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0) == beforeSum)
    // No false negatives: EVERY live key passes its covering file's filter.
    // This transitively pins driver-probe vs SQL-build hash parity — a
    // desynchronized hash would fail ~every key, not 0.24% of them.
    val keys = Acid.snapshot(spark, dir).select("k").collect().map(_.getLong(0))
    keys.foreach { k =>
      val covering = m.files.filter(f => k >= f.minKey && k <= f.maxKey)
      assert(covering.exists(f => f.bloom.exists {
        case (b, hx) => Acid.bloomMayContain(b, hx, k)
      }), s"false negative for live key $k")
    }
    // Probing ONLY deleted keys: every file's range covers something, but the
    // filters reject — fewer files open than range pruning left, zero rows.
    val absent = (1 to 8).map { j =>
      val a = mk / 2 + j * (mk / 2) / 9
      a + ((3 - a % 7 + 7) % 7)
    }
    val (dfA, nBloomA, nRangeA, nTotal) = Acid.scanKeys(spark, dir, absent)
    assert(nRangeA >= 1, s"range tier pruned everything ($nRangeA/$nTotal)")
    assert(nBloomA < nRangeA, s"bloom skipped nothing ($nBloomA/$nRangeA)")
    assert(dfA.count() == 0)
    // Mixed present+absent scan stays exact against the brute-force filter
    val present = 0L to mk / 2 by 97L
    val (dfM, _, _, _) = Acid.scanKeys(spark, dir, present ++ absent)
    val brute = Acid.snapshot(spark, dir)
      .filter(col("k").isInCollection(present ++ absent)).count()
    assert(dfM.count() == brute && brute >= 1)
    // SQL surface: the same probes pushed as an IN filter through the V2
    // scan engage the bloom tier in the PLANNER — strictly fewer files
    // than range overlap alone would open (bloom keeps a file only on a
    // ~0.24% false positive, so requiring < range-hits is FP-robust)
    val v2 = spark.read.format("graft-acid-sql").load(dir)
    assert(v2.filter(col("k").isInCollection(absent)).count() == 0)
    val (scanned, total) = graft.sources.AcidSql.lastScanFor(dir)
    val rangeHits = m.files.count(f => absent.exists(k => k >= f.minKey && k <= f.maxKey))
    assert(rangeHits >= 1 && scanned < rangeHits,
      s"SQL IN-probe scanned $scanned files; range tier alone leaves $rangeHits of $total")
  }

  test("staging-catalog CTAS: atomic create-with-data, aborted CTAS leaves nothing") {
    val root = Scratch.fresh("acid_spec_ctas", sf)
    spark.conf.set("spark.sql.catalog.graft_spec_cat", "graft.sources.AcidCatalog")
    spark.conf.set("spark.sql.catalog.graft_spec_cat.root", root)
    kv(sf).createOrReplaceTempView("acid_ctas_spec_src")
    spark.sql(
      "CREATE TABLE graft_spec_cat.ok AS SELECT * FROM acid_ctas_spec_src WHERE k % 2 = 0")
    assert(Acid.latestVersion(s"$root/ok") == 0, "CTAS must land exactly v0")
    val expect = kv(sf).filter(col("k") % 2 === 0).count()
    assert(spark.sql("SELECT count(*) FROM graft_spec_cat.ok").head.getLong(0) == expect)
    // the same committed state is visible through the library API
    assert(Acid.snapshot(spark, s"$root/ok").count() == expect)
    // INSERT INTO through the catalog lands a second committed version
    spark.sql(
      """INSERT INTO graft_spec_cat.ok
        |SELECT k + 1000000, price_cents, prio
        |FROM acid_ctas_spec_src WHERE k % 500 = 0""".stripMargin)
    assert(Acid.latestVersion(s"$root/ok") == 1)
    // a CTAS whose write tasks throw must leave NO trace: no dir, no name
    assert(Try(spark.sql(
      "CREATE TABLE graft_spec_cat.bad AS SELECT assert_true(k < 0) AS b FROM acid_ctas_spec_src"
    )).isFailure)
    assert(!Files.exists(Paths.get(root, "bad")), "aborted CTAS left its directory")
    assert(Try(spark.sql("SELECT * FROM graft_spec_cat.bad")).isFailure)
    // name collision refuses instead of clobbering
    assert(Try(spark.sql(
      "CREATE TABLE graft_spec_cat.ok AS SELECT * FROM acid_ctas_spec_src")).isFailure)
    // DROP TABLE removes the committed table
    spark.sql("DROP TABLE graft_spec_cat.ok")
    assert(Acid.latestVersion(s"$root/ok") == -1)
  }

  test("deletion vectors: data files stay byte-identical, every reader subtracts them") {
    val dir = freshTable("acid_spec_dv")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    val before = dataFiles(dir)
    val total = kv(sf).count()
    val (n1, tagged, _) = Acid.deleteWhereMor(spark, dir,
      col("k") % 10 === 6 && col("k") < lit(mk / 4), Some((0L, mk / 4)), "dv1")
    assert(n1 > 0 && tagged >= 1)
    // no data file was rewritten or removed — only the sidecar is new
    val after = dataFiles(dir).view.filterKeys(!_.startsWith("_dv")).toMap
    assert(after == before, "MoR delete must not touch data files")
    // snapshot, range scan, and merge all see the deletion
    assert(Acid.snapshot(spark, dir).count() == total - n1)
    val (ranged, _, _) = Acid.scanRange(spark, dir, 0, mk / 4)
    assert(ranged.filter(col("k") % 10 === 6).count() == 0)
    // the change feed classifies the MoR increment as deletes
    val feed = Acid.changeFeed(spark, dir, 0, 1)
    assert(feed.filter(col("change_type") === "delete").count() == n1)
    assert(feed.filter(col("change_type") =!= "delete").count() == 0)
    // a merge on DV'd files must not resurrect deleted rows
    Acid.merge(spark, dir, kv(sf).filter(col("k") === 2L)
      .withColumn("prio", lit("TOUCH")), "m")
    assert(Acid.snapshot(spark, dir).count() == total - n1)
    // SQL surfaces subtract the vectors too: V1 anti-joins the sidecar
    // union, V2 inlines the keys into its partitions (masked COLUMNAR
    // path since round 12 — zero-copy selection-vector views)
    spark.read.format("graft-acid").load(dir).createOrReplaceTempView("dv_v")
    assert(spark.sql("SELECT count(*) FROM dv_v").head.getLong(0) == total - n1)
    assert(spark.read.format("graft-acid-sql").load(dir).count() == total - n1)
    // a projection WITHOUT the key still subtracts (the V2 reader
    // projects the key internally for the skip test)
    assert(spark.read.format("graft-acid-sql").load(dir)
      .select("prio").count() == total - n1)
    Acid.optimize(spark, dir, 4)
    assert(Acid.readManifest(dir, Acid.latestVersion(dir)).files.forall(_.dv.isEmpty))
    assert(spark.read.format("graft-acid").load(dir).count() == total - n1)
    // vacuum retaining the DV version deletes nothing (data files AND the
    // sidecar are all still referenced) and the version stays readable
    val (deleted1, _) = Acid.vacuum(spark, dir, retainFrom = 1)
    assert(deleted1 == 0, s"retained-DV vacuum removed $deleted1 live files")
    assert(Acid.snapshot(spark, dir, 1).count() == total - n1,
      "retained DV version must stay readable after vacuum")
    // past the horizon, the originals AND the sidecar become orphans
    val latest = Acid.latestVersion(dir)
    val (deleted2, _) = Acid.vacuum(spark, dir, retainFrom = latest)
    assert(deleted2 >= 1)
    assert(Acid.snapshot(spark, dir).count() == total - n1)
  }

  test("partitioned table: a year probe opens one partition, backfill replaces it atomically") {
    val dir = Scratch.fresh("acid_spec_part", sf)
    val t = Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      year(col("o_orderdate")).cast("long").as("pyear"))
    val nParts = Acid.createPartitioned(spark, dir, t, "k", "pyear", 2)
    val (df97, scanned, total) = Acid.scanCol2Range(spark, dir, "pyear", 1997L, 1997L)
    assert(total == nParts * 2 && scanned == 2,
      s"expected exactly one partition's files, got $scanned/$total")
    assert(df97.count() == t.filter(col("pyear") === 1997L).count())
    val before = dataFiles(dir)
    Acid.replacePartition(spark, dir, "pyear", 1997L,
      t.filter(col("pyear") === 1997L)
        .withColumn("price_cents", col("price_cents") + 100), 2, "bf")
    // untouched partitions stay byte-identical on disk and in the manifest
    val after = dataFiles(dir)
    before.foreach { case (p, sha) =>
      if (!p.startsWith("d0_p1997"))
        assert(after.get(p).contains(sha), s"untouched partition file $p changed")
    }
    val m1 = Acid.readManifest(dir, 1)
    val live97 = m1.files.filter(_.stats2.exists(s2 => s2._2 == 1997L && s2._3 == 1997L))
    assert(live97.nonEmpty && live97.forall(_.path.startsWith("d1_bf_p1997")))
    // the replaced partition reads the new prices; others are unchanged
    val sum97 = Acid.snapshot(spark, dir).filter(col("pyear") === 1997L)
      .agg(sum(col("price_cents"))).head.getLong(0)
    val expect = t.filter(col("pyear") === 1997L)
      .agg(sum(col("price_cents") + 100)).head.getLong(0)
    assert(sum97 == expect)
  }

  test("CHECK constraint: DSv2 INSERT refuses atomically, rewrites keep the invariant") {
    val dir = Scratch.fresh("acid_spec_constraint", sf)
    Acid.create(spark, dir, kv(sf), "k", 8, Some("price_cents >= 0"))
    val v0 = Acid.latestVersion(dir)
    val sum0 = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    spark.sql("DROP TABLE IF EXISTS graft_constraint_t")
    try {
    spark.sql(
      s"""CREATE TABLE graft_constraint_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    // violating SQL INSERT: refused, no version burned, snapshot intact
    assert(Try(spark.sql(
      "INSERT INTO graft_constraint_t VALUES (99999999, -5, 'BAD')")).isFailure)
    assert(Acid.latestVersion(dir) == v0, "violating INSERT burned a version")
    assert(Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0) == sum0)
    // valid SQL INSERT commits
    spark.sql("INSERT INTO graft_constraint_t VALUES (99999999, 5, 'OK')")
    assert(Acid.latestVersion(dir) == v0 + 1)
    // constraint survives maintenance rewrites (optimize) and clones
    Acid.optimize(spark, dir, 4)
    assert(Acid.readManifest(dir, Acid.latestVersion(dir)).constraint
      .contains("price_cents >= 0"))
    val cloneDir = Scratch.fresh("acid_spec_constraint_clone", sf)
    java.nio.file.Files.delete(Paths.get(cloneDir)) // cloneShallow creates it
    Acid.cloneShallow(spark, dir, cloneDir)
    assert(Try(Acid.merge(spark, cloneDir,
      kv(sf).limit(5).withColumn("price_cents", lit(-1L)), "c")).isFailure,
      "clone must inherit the constraint")
    } finally spark.sql("DROP TABLE IF EXISTS graft_constraint_t")
  }

  test("readStream.table streams by committed version and resumes incrementally") {
    import org.apache.spark.sql.streaming.Trigger
    val root = Scratch.fresh("acid_spec_tstream", sf)
    spark.conf.set("spark.sql.catalog.graft_spec_ts", "graft.sources.AcidCatalog")
    spark.conf.set("spark.sql.catalog.graft_spec_ts.root", root)
    val dir = s"$root/t"
    Acid.create(spark, dir, kv(sf), "k", 8)
    val n0 = kv(sf).count()
    // parquet sink: recoverable from the checkpoint, so the second drain
    // is a genuine RESUME, not a restart-from-scratch
    def drain(): Long = {
      val q = spark.readStream.table("graft_spec_ts.t").writeStream
        .trigger(Trigger.AvailableNow()).outputMode("append")
        .format("parquet").option("path", s"$root/_out")
        .option("checkpointLocation", s"$root/_cp").start()
      q.awaitTermination()
      spark.read.parquet(s"$root/_out").count()
    }
    // fresh checkpoint: first drain delivers the creation snapshot
    assert(drain() == n0)
    val ins = kv(sf).filter(col("k") % 250 === 0)
      .select((col("k") + 10000000L).as("k"), col("price_cents"), col("prio"))
    ins.writeTo("graft_spec_ts.t").append()
    // resume from the SAME checkpoint: only the new commit's files replay
    assert(drain() == n0 + ins.count(),
      "resumed stream must deliver exactly the appended files")
  }

  test("catalog time travel: versions pin immutable snapshots, out-of-range refuses") {
    val root = Scratch.fresh("acid_spec_travel", sf)
    spark.conf.set("spark.sql.catalog.graft_spec_tt", "graft.sources.AcidCatalog")
    spark.conf.set("spark.sql.catalog.graft_spec_tt.root", root)
    val dir = s"$root/t"
    Acid.create(spark, dir, kv(sf), "k", 8)
    val n0 = kv(sf).count()
    Acid.deleteWhere(spark, dir, col("k") % 2 === 0, None, "halve")
    val n1 = spark.sql("SELECT count(*) FROM graft_spec_tt.t").head.getLong(0)
    assert(n1 < n0)
    assert(spark.sql("SELECT count(*) FROM graft_spec_tt.t VERSION AS OF 0")
      .head.getLong(0) == n0, "VERSION AS OF 0 must see the pre-delete snapshot")
    // timestamp at v1's commit mtime resolves to v1, not v0
    val t1 = Files.getLastModifiedTime(Paths.get(dir, "_log", "v00001.txt")).toInstant
    val ts = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(t1)
    assert(spark.sql(s"SELECT count(*) FROM graft_spec_tt.t TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == n1)
    // out-of-range refusals, both directions
    assert(Try(spark.sql("SELECT * FROM graft_spec_tt.t VERSION AS OF 99").head).isFailure)
    assert(Try(spark.sql(
      "SELECT * FROM graft_spec_tt.t TIMESTAMP AS OF '1970-01-02 00:00:00'").head).isFailure)
  }

  test("V2 catalog scan is columnar, and evolved files surface NULL vectors") {
    val dir = freshTable("acid_spec_columnar")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    // evolve: a merged batch carries a NEW column; old files predate it
    val batch = kv(sf).filter(col("k") % 5 === 2 && col("k") < lit(mk / 4))
      .drop("prio").withColumn("discount_cents", col("k") * 2 + 9)
    Acid.merge(spark, dir, batch, "evo")
    val v2 = spark.read.format("graft-acid-sql").load(dir)
    // the scan plans ColumnarToRow — the batch path is engaged
    val plan = v2.select("k", "price_cents", "discount_cents")
      .queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"columnar path not engaged:\n$plan")
    // values identical to the mergeSchema snapshot, NULLs included
    val snap = Acid.snapshot(spark, dir)
    assert(v2.agg(sum(col("price_cents")), sum(col("discount_cents")),
        sum(when(col("discount_cents").isNull, 1L).otherwise(0L))).head ==
      snap.agg(sum(col("price_cents")), sum(col("discount_cents")),
        sum(when(col("discount_cents").isNull, 1L).otherwise(0L))).head)
    // a projection ONLY of the evolved column still counts every row of
    // every file — including old files that predate the column entirely
    assert(v2.select("discount_cents").count() == snap.count())
    // row-level ops (which request _file metadata) still work post-change
    assert(v2.filter(col("k").isin(3L, 5L, 7L)).count() ==
      snap.filter(col("k").isin(3L, 5L, 7L)).count())
  }

  test("commit log is monotonic under conflict: stale base refuses, log unchanged") {
    val dir = freshTable("acid_spec_conflict")
    val r1 = Acid.mergeAt(spark, dir, 0, lowQuarterUpdates(sf), "w1")
    assert(r1.isRight)
    val r2 = Acid.mergeAt(spark, dir, 0, lowQuarterUpdates(sf), "w2")
    assert(r2.isLeft, "stale-base commit must conflict")
    assert(Acid.latestVersion(dir) == 1)
    // the loser's staged files are unreferenced, not part of any snapshot
    val live = Acid.readManifest(dir, 1).files.map(_.path).toSet
    assert(live.forall(!_.contains("w2")))
  }

  test("vacuum deletes only unreferenced files and the snapshot re-reads identically") {
    val dir = freshTable("acid_spec_vacuum")
    Acid.merge(spark, dir, lowQuarterUpdates(sf), "spec")
    Acid.mergeAt(spark, dir, 0, lowQuarterUpdates(sf), "loser") // abandoned stage
    val pre = Acid.snapshot(spark, dir)
      .agg(count(lit(1)), sum(col("price_cents"))).head
    val liveBefore = Acid.readManifest(dir, 1).files.map(_.path).toSet
    val (deleted, kept) = Acid.vacuum(spark, dir, retainFrom = 1)
    assert(deleted >= 1)
    assert(kept == liveBefore.size)
    val onDisk = dataFiles(dir).keySet
    assert(onDisk == liveBefore, "post-vacuum disk state must equal the live set")
    val post = Acid.snapshot(spark, dir)
      .agg(count(lit(1)), sum(col("price_cents"))).head
    assert(post == pre)
    assert(Try(Acid.snapshot(spark, dir, 0)).isFailure,
      "time travel below the vacuum horizon must refuse")
  }

  test("batch-id dedup: a replayed batch neither re-applies nor burns a version") {
    val dir = freshTable("acid_spec_retry")
    val first = Acid.merge(spark, dir, lowQuarterUpdates(sf), "m", batchId = 42L)
    val sumAfterFirst = Acid.snapshot(spark, dir)
      .agg(sum(col("price_cents"))).head.getLong(0)
    val second = Acid.merge(spark, dir, lowQuarterUpdates(sf), "m", batchId = 42L)
    assert(second.skipped && second.version == first.version)
    val sumAfterSecond = Acid.snapshot(spark, dir)
      .agg(sum(col("price_cents"))).head.getLong(0)
    assert(sumAfterSecond == sumAfterFirst)
  }

  test("optimize commits a bin-packed version; fragmented snapshot stays time-travelable") {
    val dir = Scratch.fresh("acid_spec_optimize", sf)
    Acid.create(spark, dir, kv(sf), "k", 32)
    val preAgg = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    val (before, after) = Acid.optimize(spark, dir, 4)
    assert(before > after && after <= 4)
    assert(Acid.latestVersion(dir) == 1)
    assert(Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0) == preAgg)
    // pre-optimize version readable until vacuum; gone after
    assert(Acid.snapshot(spark, dir, 0).count() == Acid.snapshot(spark, dir, 1).count())
    val (deleted, _) = Acid.vacuum(spark, dir, retainFrom = 1)
    assert(deleted == before, "vacuum must reclaim exactly the fragmented originals")
  }

  test("z-order: second-column skipping appears after the rewrite, stays exact") {
    val dir = Scratch.fresh("acid_spec_zorder", sf)
    val t = Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"), col("o_custkey").as("c2"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    Acid.create(spark, dir, t, "k", 8)
    val b = t.agg(min(col("c2")), max(col("c2"))).head
    val (c0, c1) = (b.getLong(0), b.getLong(1))
    val hi = c0 + (c1 - c0) / 8
    val (df0, scanned0, total0) = Acid.scanCol2Range(spark, dir, "c2", c0, hi)
    val truth = df0.count()
    assert(scanned0 == total0, "key-range layout cannot skip on c2")
    Acid.optimizeZorder(spark, dir, "c2", 16)
    val (df1, scanned1, total1) = Acid.scanCol2Range(spark, dir, "c2", c0, hi)
    assert(scanned1 < total1, s"z-order must enable skipping ($scanned1/$total1)")
    assert(df1.count() == truth, "pruned scan must stay exact")
    // a merge AFTER z-order rewrites files without c2 stats — skipping
    // degrades conservatively (rewritten file always scanned), never wrong
    val batch = t.filter(col("k") % 13 === 1 && col("k") < 50)
      .withColumn("price_cents", col("price_cents") + 5)
    Acid.merge(spark, dir, batch, "zm")
    val (df2, _, _) = Acid.scanCol2Range(spark, dir, "c2", c0, hi)
    assert(df2.count() == truth)
  }

  test("change feed: suppresses unchanged rows, and an optimize-only diff is empty") {
    val dir = freshTable("acid_spec_cdf")
    Acid.merge(spark, dir, lowQuarterUpdates(sf), "spec")
    val feed = Acid.changeFeed(spark, dir, 0, 1)
    val byType = feed.groupBy(col("change_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expectedUpdates = lowQuarterUpdates(sf).count()
    assert(byType.getOrElse("update", 0L) == expectedUpdates)
    assert(byType.getOrElse("insert", 0L) == 0L && byType.getOrElse("delete", 0L) == 0L)
    // rewritten files carry co-located unchanged rows — the feed must be
    // strictly smaller than the rewritten-file row count
    val m1 = Acid.readManifest(dir, 1)
    val rewrittenRows = m1.files.filter(_.path.startsWith("d1_")).map(_.rows).sum
    assert(expectedUpdates < rewrittenRows)
    // OPTIMIZE rewrites every file but changes no values → empty feed
    Acid.optimize(spark, dir, 4)
    assert(Acid.changeFeed(spark, dir, 1, 2).count() == 0L)
  }

  test("delete-where prunes to the hinted range and the feed shows pure deletes") {
    val dir = freshTable("acid_spec_delete")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    val before = dataFiles(dir)
    val expected = kv(sf)
      .filter(col("k") % 10 === 6 && col("k") < lit(mk / 4)).count()
    val (deleted, rewritten, total) = Acid.deleteWhere(spark, dir,
      col("k") % 10 === 6 && col("k") < lit(mk / 4),
      Some((0L, mk / 4 - 1)), "spec")
    assert(deleted == expected)
    assert(rewritten >= 1 && rewritten < total)
    // untouched files byte-identical; erased keys gone from the snapshot
    val after = dataFiles(dir)
    Acid.readManifest(dir, 1).files.map(_.path)
      .filterNot(_.startsWith("d1_")).foreach(p => assert(after(p) == before(p)))
    assert(Acid.snapshot(spark, dir)
      .filter(col("k") % 10 === 6 && col("k") < lit(mk / 4)).count() == 0L)
    val feed = Acid.changeFeed(spark, dir, 0, 1)
    assert(feed.filter(col("change_type") =!= "delete").count() == 0L)
    assert(feed.count() == deleted)
  }

  test("shallow clone: copy-on-write divergence, and clone vacuum spares the source") {
    val base = Scratch.fresh("acid_spec_clone", sf)
    val src = s"$base/src"; val dst = s"$base/clone"
    Acid.create(spark, src, kv(sf), "k", 8)
    val srcFiles = dataFiles(src)
    Acid.cloneShallow(spark, src, dst)
    val srcSum = Acid.snapshot(spark, src).agg(sum(col("price_cents"))).head.getLong(0)
    assert(Acid.snapshot(spark, dst).agg(sum(col("price_cents"))).head.getLong(0) == srcSum)
    Acid.merge(spark, dst, lowQuarterUpdates(sf), "cw")
    // clone diverged; source bytes and aggregate untouched
    assert(Acid.snapshot(spark, src).agg(sum(col("price_cents"))).head.getLong(0) == srcSum)
    assert(dataFiles(src) == srcFiles)
    // clone vacuum reclaims nothing from the source (its root excludes it),
    // and the clone still reads correctly afterwards
    val cloneSum = Acid.snapshot(spark, dst).agg(sum(col("price_cents"))).head.getLong(0)
    Acid.vacuum(spark, dst, retainFrom = 1)
    assert(dataFiles(src) == srcFiles)
    assert(Acid.snapshot(spark, dst).agg(sum(col("price_cents"))).head.getLong(0) == cloneSum)
  }

  test("manifest serialization round-trips 200 generated manifests exactly") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[T](g: Gen[T]): T = g.apply(Gen.Parameters.default, Seed(7L)).get
    // path charset: anything a real writer produces (no '|' / newline by
    // construction — data dirs and parquet part names are [A-Za-z0-9._-/])
    val pathGen = for {
      v <- Gen.choose(0, 99); tag <- Gen.alphaNumStr.map(_.take(6))
      f <- Gen.alphaNumStr.map(_.take(12))
    } yield s"d${v}_$tag/part-$f.parquet"
    val entryGen = for {
      p <- pathGen
      rows <- Gen.choose(0L, Long.MaxValue / 2)
      mn <- Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)
      mx <- Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)
      s2 <- Gen.option(for {
        c <- Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)
        a <- Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)
        b <- Gen.choose(Long.MinValue / 2, Long.MaxValue / 2)
      } yield (c, a, b))
      bl <- Gen.option(for {
        words <- Gen.choose(1, 4)
        hex   <- Gen.listOfN(words * 16, Gen.oneOf("0123456789ABCDEF".toSeq))
      } yield (words * 64, hex.mkString))
      dv <- Gen.option(for {
        t <- Gen.identifier.map(_.take(6)).suchThat(_.nonEmpty)
        n <- Gen.choose(1L, 100000L)
      } yield (s"_dv/d1_$t", n))
    } yield Acid.FileEntry(p, rows, mn, mx, s2, bl, dv)
    val tagGen = Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.take(6).mkString)
    val manifestGen = for {
      bid <- Gen.choose(-1L, Long.MaxValue / 2)
      nhw <- Gen.choose(0, 3)
      hw  <- Gen.listOfN(nhw, Gen.zip(tagGen, Gen.choose(-1L, Long.MaxValue / 2)))
        .map(_.toMap)
      fs  <- Gen.listOfN(5, entryGen)
      cdc <- Gen.option(tagGen.map(t => s"_cdc/d1_$t"))
      // constraint text may contain the header delimiter — base64 must hold
      cstr <- Gen.option(Gen.oneOf("price_cents >= 0",
        "a > 0 AND b IS NOT NULL", "x | weird || chars\t-- comment"))
      op <- Gen.oneOf("", "CREATE", "WRITE", "MERGE", "DELETE", "OPTIMIZE",
        "RESTORE", "REPLACE PARTITION", "STREAMING UPDATE")
      // round-17 versioned column mapping: generated Some maps round-trip
      // verbatim; None is auto-stamped at commit (asserted below)
      cmap <- Gen.option(Gen.listOf(Gen.zip(
        Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty),
        Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty))).map(_.toMap))
      drop <- Gen.option(Gen.listOf(
        Gen.identifier.map(_.take(8)).suchThat(_.nonEmpty)).map(_.distinct))
    } yield (bid, hw, fs, cdc, cstr, op, cmap, drop)
    val dir = Scratch.fresh("acid_spec_roundtrip", sf)
    sample(Gen.listOfN(200, manifestGen)).zipWithIndex.foreach {
      case ((bid, hw, fs, cdc, cstr, op, cmap, drop), v) =>
        val m = Acid.Manifest(v, bid, fs, hw, cdc, cstr, op, cmap, drop)
        Acid.commitManifest(dir, m)
        Acid.clearManifestCache() // exercise the on-disk format, not the cache
        // caller-supplied schema metadata round-trips verbatim; a None is
        // stamped with the live sidecar state at commit time (round-17 —
        // empty here, this scratch table has no colmap/dropped sidecars)
        val expected = m.copy(colMap = cmap.orElse(Some(Map.empty)),
          dropped = drop.orElse(Some(Seq.empty)))
        assert(Acid.readManifest(dir, v) == expected, s"round-trip failed at v$v")
    }
    assert(Acid.latestVersion(dir) == 199)
    // pre-op-field manifests (5-field header) still read, op defaults "",
    // colMap None (no record — readers fall back to the sidecar)
    val legacy = java.nio.file.Paths.get(dir, "_log", "v00200.txt")
    java.nio.file.Files.write(legacy,
      "200|-1|||".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    assert(Acid.readManifest(dir, 200).op == "")
    assert(Acid.readManifest(dir, 200).colMap.isEmpty)
    assert(Acid.readManifest(dir, 200).dropped.isEmpty)
  }

  test("graft-acid SQL source: pushed filters prune files, results stay exact") {
    val dir = freshTable("acid_spec_sqlsrc")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    val df = spark.read.format("graft-acid").load(dir)
    df.createOrReplaceTempView("acid_spec_v")
    val lo = mk / 2; val hi = mk / 2 + mk / 8
    val viaSql = spark.sql(
      s"SELECT count(*) AS n, sum(price_cents) AS sc FROM acid_spec_v " +
      s"WHERE k BETWEEN $lo AND $hi").head
    val (scanned, total) = graft.sources.AcidRelation.lastScanFor(dir)
    assert(scanned >= 1 && scanned < total, s"expected pruning, got $scanned/$total")
    val direct = Acid.snapshot(spark, dir)
      .filter(col("k").between(lo, hi))
      .agg(count(lit(1)), sum(col("price_cents"))).head
    assert(viaSql == direct)
    // an unfiltered scan must NOT prune
    spark.sql("SELECT count(*) FROM acid_spec_v").head
    val (s2, t2) = graft.sources.AcidRelation.lastScanFor(dir)
    assert(s2 == t2)
  }

  test("four concurrent writers all land exactly once through the rebase loop") {
    val dir = freshTable("acid_spec_stress")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    val quarter = mk / 4 + 1
    // disjoint key quarters, +1000 cents each — order-independent final sum
    def batchFor(i: Int) = kv(sf)
      .filter(col("k") >= i * quarter && col("k") < (i + 1) * quarter)
      .withColumn("price_cents", col("price_cents") + 1000L)
    val baseSum = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map { i =>
      val th = new Thread(() => { Acid.merge(spark, dir, batchFor(i), s"w$i"): Unit })
      th.setUncaughtExceptionHandler((_, e) => { errs.add(e); () })
      th
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    // a swallowed thread exception used to surface only as "3 did not
    // equal 4" — report the actual failure instead
    assert(errs.isEmpty, s"writer thread failed: ${Option(errs.peek())}")
    assert(Acid.latestVersion(dir) == 4, "all four commits must land")
    val rows = Tables.orders(spark, sf).count()
    val finalSum = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    assert(finalSum == baseSum + 1000L * rows,
      s"every batch must apply exactly once (got $finalSum, want ${baseSum + 1000L * rows})")
  }

  test("schema evolution widens new files only; old files keep the narrow schema") {
    val dir = freshTable("acid_spec_evolve")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    val batch = kv(sf).filter(col("k") % 5 === 2 && col("k") < lit(mk / 4))
      .drop("prio")
      .withColumn("discount_cents", col("k") * 2 + 9)
    val r = Acid.merge(spark, dir, batch, "spec")
    val m = Acid.readManifest(dir, 1)
    val (newFiles, carried) = m.files.partition(_.path.startsWith("d1_"))
    assert(newFiles.nonEmpty && carried.nonEmpty)
    val newSchema = spark.read.parquet(s"$dir/${newFiles.head.path}").schema
    val oldSchema = spark.read.parquet(s"$dir/${carried.head.path}").schema
    assert(newSchema.fieldNames.contains("discount_cents"))
    assert(!oldSchema.fieldNames.contains("discount_cents"))
    // and the merged snapshot surfaces NULLs for carried rows
    val nulls = Acid.snapshot(spark, dir)
      .filter(col("discount_cents").isNull).count()
    assert(nulls > 0 && r.filesRewritten < r.filesTotal)
  }

  test("a merge after an ADD COLUMN keeps the column on rows it does not touch") {
    val dir = s"${Scratch.fresh("acid_spec_addcol_merge", sf)}/t"
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    def frame(keys: Seq[Long], note: Boolean) = spark.createDataFrame(
      spark.sparkContext.parallelize(keys.map(k =>
        if (note) Row(k, k * 10, s"n$k") else Row(k, k)), 1),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType)) ++
        (if (note) Seq(StructField("note", StringType)) else Nil)))
    // two files, keys 1..50 and 51..100; the first never carries `note`
    Acid.create(spark, dir, frame(1L to 100L, note = false), "k", 2)
    Acid.addColumn(spark, dir, Seq("note"), StringType)
    Acid.merge(spark, dir, frame(51L to 60L, note = true), "spec")
    // rewrites the 51..100 file again: its nine other notes must survive,
    // though the first manifest file has no `note` column
    Acid.merge(spark, dir, frame(Seq(55L), note = true), "spec")
    val notes = Acid.snapshot(spark, dir).where(col("note").isNotNull)
      .select(col("k"), col("note")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(notes == (51L to 60L).map(k => (k, s"n$k")))
    // a merge that touches no file inserts under the version's union
    Acid.merge(spark, dir, frame(Seq(500L), note = false), "spec")
    assert(Acid.snapshot(spark, dir).where(col("note").isNotNull).count() == 10L)
    assert(Acid.snapshot(spark, dir).count() == 101L)
  }

  test("a widening merge keeps a declared-only ADD COLUMN") {
    val dir = s"${Scratch.fresh("acid_spec_widen_addcol", sf)}/t"
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val narrow = spark.createDataFrame(spark.sparkContext.parallelize(
      (1L to 100L).map(k => Row(k, k.toInt)), 1),
      StructType(Seq(StructField("k", LongType), StructField("v", IntegerType))))
    Acid.create(spark, dir, narrow, "k", 2)
    Acid.addColumn(spark, dir, Seq("note"), StringType)
    val wide = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(Row(5L, 1L << 40)), 1),
      StructType(Seq(StructField("k", LongType), StructField("v", LongType))))
    Acid.merge(spark, dir, wide, "spec")
    val declared = Acid.declaredSchemaAt(dir, -1).get
    assert(declared.fieldNames.toSeq == Seq("k", "v", "note"))
    assert(declared("v").dataType == LongType)
    assert(Acid.snapshot(spark, dir).where(col("k") === 5L)
      .select("v").head.getLong(0) == (1L << 40))
  }

  test("batch-id dedup is scoped per writer: two queries never dedup each other") {
    val dir = freshTable("acid_spec_perwriter")
    val batch = lowQuarterUpdates(sf)
    // query A commits ITS batch 0; query B's batch 0 is a DIFFERENT
    // query's first batch and must still apply (the Delta
    // (txnAppId, txnVersion) contract — a table-global high-water mark
    // would silently drop it)
    val a = Acid.merge(spark, dir, batch, "queryA", batchId = 0L)
    assert(!a.skipped)
    val b = Acid.merge(spark, dir, batch, "queryB", batchId = 0L)
    assert(!b.skipped, "writer B's batch 0 must not be deduped by writer A's")
    // replay WITHIN a writer still dedups
    val aReplay = Acid.merge(spark, dir, batch, "queryA", batchId = 0L)
    assert(aReplay.skipped && aReplay.version == b.version)
  }

  test("shallow clone resets the batch high-water map: a fresh query's batch 0 applies") {
    val base = Scratch.fresh("acid_spec_clone_hw", sf)
    val src = s"$base/src"; val dst = s"$base/clone"
    Acid.create(spark, src, kv(sf), "k", 8)
    Acid.merge(spark, src, lowQuarterUpdates(sf), "srcQuery", batchId = 5L)
    assert(Acid.readManifest(src, Acid.latestVersion(src))
      .batchHw("srcQuery") == 5L)
    Acid.cloneShallow(spark, src, dst)
    assert(Acid.readManifest(dst, 0).batchHw.isEmpty,
      "clone must not inherit the source's replay high-water marks")
    // a brand-new streaming query into the clone restarts at batch 0 —
    // with the inherited mark this would have been silently skipped
    val sumBefore = Acid.snapshot(spark, dst).agg(sum(col("price_cents"))).head.getLong(0)
    val r = Acid.merge(spark, dst,
      Acid.snapshot(spark, dst).limit(1).withColumn("price_cents", col("price_cents") + 1L),
      "srcQuery", batchId = 0L)
    assert(!r.skipped, "batch 0 into a fresh clone must apply")
    val sumAfter = Acid.snapshot(spark, dst).agg(sum(col("price_cents"))).head.getLong(0)
    assert(sumAfter == sumBefore + 1L)
  }

  test("vacuum vs concurrent reader: a held pre-horizon snapshot refuses cleanly") {
    val dir = freshTable("acid_spec_vacuum_reader")
    Acid.merge(spark, dir, lowQuarterUpdates(sf), "spec")
    // reader plans against v0 BEFORE the vacuum; the plan's file list is
    // fixed at planning time (snapshot isolation)
    val held = Acid.snapshot(spark, dir, 0)
    assert(held.count() > 0, "pre-vacuum read works")
    Acid.vacuum(spark, dir, retainFrom = 1)
    // the held snapshot's rewritten-away files are gone: the reader must
    // FAIL (refusal), never silently return a partial/wrong row set —
    // which is what ignoreMissingFiles=true would do
    assert(spark.conf.get("spark.sql.files.ignoreMissingFiles") == "false")
    assert(Try(held.count()).isFailure,
      "post-vacuum read of a below-horizon snapshot must refuse, not degrade")
    // and re-planning time travel below the horizon refuses at the log
    assert(Try(Acid.snapshot(spark, dir, 0)).isFailure)
  }

  test("DSv2 write: INSERT INTO a catalog table commits through BatchWrite") {
    val dir = freshTable("acid_spec_v2ins")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    spark.sql("DROP TABLE IF EXISTS acid_spec_v2ins_t")
    spark.sql(
      s"""CREATE TABLE acid_spec_v2ins_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    val baseN = kv(sf).count()
    // SQL INSERT: fresh keys beyond the current max — a pure append
    kv(sf).createOrReplaceTempView("acid_spec_v2ins_src")
    spark.sql(
      s"""INSERT INTO acid_spec_v2ins_t
         |SELECT k + $mk + 1 AS k, k * 3 + 45 AS price_cents, 'INS' AS prio
         |FROM acid_spec_v2ins_src WHERE k % 100 = 0""".stripMargin)
    assert(Acid.latestVersion(dir) == 1, "INSERT must commit exactly one version")
    val insN = kv(sf).filter(col("k") % 100 === 0).count()
    // catalog SELECT goes through the V2 scan; totals must agree with the
    // library snapshot read (V1-altitude) on the same table
    val viaSql = spark.sql(
      "SELECT count(*) AS n, sum(price_cents) AS sc FROM acid_spec_v2ins_t").head
    val viaSnap = Acid.snapshot(spark, dir)
      .agg(count(lit(1)), sum(col("price_cents"))).head
    assert(viaSql == viaSnap)
    assert(viaSql.getLong(0) == baseN + insN)
    // df.writeTo: the DataFrameWriterV2 API lands in the same BatchWrite
    Acid.snapshot(spark, dir).filter(col("prio") === "INS")
      .withColumn("k", col("k") + lit(mk + 1))
      .withColumn("prio", lit("INS2"))
      .writeTo("acid_spec_v2ins_t").append()
    assert(Acid.latestVersion(dir) == 2)
    assert(Acid.snapshot(spark, dir).filter(col("prio") === "INS2").count() == insN)
    // key-range pruning: the appended files carry min/max stats, so a
    // range SELECT over the ORIGINAL key space must skip them
    spark.sql(s"SELECT count(*) FROM acid_spec_v2ins_t WHERE k <= ${mk / 8}").head
    val (scanned, total) = graft.sources.AcidSql.lastScanFor(dir)
    assert(scanned >= 1 && scanned < total, s"expected pruning, got $scanned/$total")
    spark.sql("DROP TABLE acid_spec_v2ins_t")
  }

  test("DSv2 write: INSERT OVERWRITE truncates via SupportsTruncate, old version time-travels") {
    val dir = freshTable("acid_spec_v2ovw")
    spark.sql("DROP TABLE IF EXISTS acid_spec_v2ovw_t")
    spark.sql(
      s"""CREATE TABLE acid_spec_v2ovw_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    spark.sql(
      """INSERT OVERWRITE acid_spec_v2ovw_t
        |SELECT CAST(7 AS BIGINT), CAST(700 AS BIGINT), 'OVW'""".stripMargin)
    assert(Acid.latestVersion(dir) == 1)
    assert(Acid.snapshot(spark, dir).count() == 1L)
    // pre-overwrite snapshot still readable (manifests immutable)
    assert(Acid.snapshot(spark, dir, 0).count() > 1L)
    spark.sql("DROP TABLE acid_spec_v2ovw_t")
  }

  test("DSv2 commit is atomic under a planted conflict: rebase loses nothing") {
    val dir = freshTable("acid_spec_v2conflict")
    val preSum = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    // stage a V2-style append the slow way: entries exist on disk, commit pending
    val stagedDf = kv(sf).limit(3)
      .withColumn("k", col("k") + 1000000L).withColumn("prio", lit("STAGED"))
    stagedDf.coalesce(1).write.mode("overwrite").parquet(s"$dir/dv2_staged")
    val stagedRel = {
      val w = Files.walk(Paths.get(dir, "dv2_staged"))
      try w.iterator().asScala.map(_.toString)
        .find(_.endsWith(".parquet")).get.stripPrefix(s"$dir/")
      finally w.close()
    }
    val entries = Seq(Acid.FileEntry(stagedRel, 3L, Long.MinValue, Long.MaxValue))
    // planted conflict: ANOTHER writer commits v1 between this write's
    // start (base v0) and its commit attempt
    Acid.merge(spark, dir, lowQuarterUpdates(sf), "rival")
    val attempt = Acid.appendCommitAt(dir, 0, entries)
    assert(attempt.isLeft, "stale-base commit must refuse")
    // the rebase loop (what BatchWrite.commit runs) must land BOTH the
    // rival's merge and the staged append, each exactly once
    val v = Acid.appendCommit(dir, entries)
    assert(v == 2)
    val mergedSum = lowQuarterUpdates(sf).count() * 777L
    val stagedSum = stagedDf.agg(sum(col("price_cents"))).head.getLong(0)
    val finalSum = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    assert(finalSum == preSum + mergedSum + stagedSum,
      "rebase must preserve the rival commit and apply the append exactly once")
  }

  test("DSv2 DELETE FROM prunes to the key range and commits one version") {
    val dir = freshTable("acid_spec_v2del")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    spark.sql("DROP TABLE IF EXISTS acid_spec_v2del_t")
    spark.sql(
      s"""CREATE TABLE acid_spec_v2del_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    val lo = mk / 2; val hi = mk / 2 + mk / 8
    val expectGone = kv(sf).filter(col("k").between(lo, hi)).count()
    val before = Acid.snapshot(spark, dir).count()
    spark.sql(s"DELETE FROM acid_spec_v2del_t WHERE k >= $lo AND k <= $hi")
    assert(Acid.latestVersion(dir) == 1)
    assert(Acid.snapshot(spark, dir).count() == before - expectGone)
    assert(Acid.snapshot(spark, dir).filter(col("k").between(lo, hi)).count() == 0L)
    // the key-range hint must have pruned: some v0 files carried forward
    val v0 = Acid.readManifest(dir, 0).files.map(_.path).toSet
    val v1 = Acid.readManifest(dir, 1).files.map(_.path).toSet
    assert((v0 intersect v1).nonEmpty, "untouched files must carry forward")
    spark.sql("DROP TABLE acid_spec_v2del_t")
  }

  test("DSv2 ALTER TABLE ADD COLUMN evolves the schema; old files surface NULLs") {
    val dir = freshTable("acid_spec_v2alter")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    spark.sql("DROP TABLE IF EXISTS acid_spec_v2alter_t")
    spark.sql(
      s"""CREATE TABLE acid_spec_v2alter_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    spark.sql("ALTER TABLE acid_spec_v2alter_t ADD COLUMN discount_cents BIGINT")
    kv(sf).createOrReplaceTempView("acid_spec_v2alter_src")
    spark.sql(
      s"""INSERT INTO acid_spec_v2alter_t
         |SELECT k + $mk + 1, price_cents, 'NEW', k * 2 + 9
         |FROM acid_spec_v2alter_src WHERE k % 100 = 0""".stripMargin)
    val insN = kv(sf).filter(col("k") % 100 === 0).count()
    val viaSql = spark.sql(
      """SELECT count(*) AS n,
        |       sum(CASE WHEN discount_cents IS NULL THEN 1 ELSE 0 END) AS n_null,
        |       sum(coalesce(discount_cents, 0)) AS sum_disc
        |FROM acid_spec_v2alter_t""".stripMargin).head
    assert(viaSql.getLong(0) == kv(sf).count() + insN)
    assert(viaSql.getLong(1) == kv(sf).count(), "pre-ALTER rows surface NULL")
    val expectDisc = kv(sf).filter(col("k") % 100 === 0)
      .agg(sum(col("k") * 2 + 9)).head.getLong(0)
    assert(viaSql.getLong(2) == expectDisc)
    spark.sql("DROP TABLE acid_spec_v2alter_t")
  }

  test("two tables fed by one foreachBatch stay exactly-once each, even when one conflicts") {
    // The log is PER TABLE (like Delta): one foreachBatch body writing two
    // tables holds no cross-table atomicity, but each table's
    // (writerTag, batchId) dedup must survive replays and conflicts
    // independently — the contract a fan-out streaming sink relies on.
    val base = Scratch.fresh("acid_spec_multitable", sf)
    val dirA = s"$base/a"; val dirB = s"$base/b"
    Acid.create(spark, dirA, kv(sf), "k", 8)
    Acid.create(spark, dirB, kv(sf), "k", 8)
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    def batch(bump: Long) = kv(sf)
      .filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
      .withColumn("price_cents", col("price_cents") + bump)
    val nBatch = batch(0L).count()
    def body(b: org.apache.spark.sql.DataFrame, bid: Long): Unit = {
      Acid.merge(spark, dirA, b, "q", batchId = bid)
      Acid.merge(spark, dirB, b, "q", batchId = bid)
    }
    body(batch(100L), 0L)
    body(batch(100L), 0L) // crash replay of batch 0: both tables must skip
    // a rival writer lands on A only (keys disjoint from the batch set so
    // batch 1 cannot overwrite the marker); B unaffected, A rebases
    val rivalKeys = col("k") % 97 === 0 && col("k") >= lit(mk / 4)
    Acid.merge(spark, dirA, kv(sf).filter(rivalKeys)
      .select(col("k"), lit("RIVAL").as("prio")), "rival")
    body(batch(200L), 1L) // batch 1 applies to both (absolute values)
    body(batch(200L), 1L) // and its replay skips on both
    def sum(dir: String) =
      Acid.snapshot(spark, dir).agg(org.apache.spark.sql.functions.sum(col("price_cents"))).head.getLong(0)
    val baseSum = kv(sf).agg(org.apache.spark.sql.functions.sum(col("price_cents"))).head.getLong(0)
    // batches carry ABSOLUTE values: final bump is exactly +200 per batch row
    assert(sum(dirA) == baseSum + 200L * nBatch,
      "table A: every batch exactly once despite the rival conflict")
    assert(sum(dirB) == baseSum + 200L * nBatch,
      "table B: untouched by A's rival, batches exactly once")
    assert(Acid.snapshot(spark, dirA).filter(col("prio") === "RIVAL").count() ==
      kv(sf).filter(rivalKeys).count(), "rival commit preserved on A")
  }

  test("DSv2 UPDATE rewrites through the row-level operation and stays exact") {
    val dir = freshTable("acid_spec_v2upd")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    spark.sql("DROP TABLE IF EXISTS acid_spec_v2upd_t")
    spark.sql(
      s"""CREATE TABLE acid_spec_v2upd_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    val hit = kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
    val expectHit = hit.count()
    val baseSum = kv(sf).agg(sum(col("price_cents"))).head.getLong(0)
    spark.sql(
      s"""UPDATE acid_spec_v2upd_t
         |SET price_cents = price_cents + 777, prio = 'PATCHED'
         |WHERE k % 10 = 3 AND k < ${mk / 4}""".stripMargin)
    val after = Acid.snapshot(spark, dir)
    assert(after.count() == kv(sf).count(), "UPDATE must not change row count")
    assert(after.filter(col("prio") === "PATCHED").count() == expectHit)
    assert(after.agg(sum(col("price_cents"))).head.getLong(0)
      == baseSum + 777L * expectHit)
    // runtime GROUP FILTERING: the clustered low-quarter predicate must
    // rewrite only the matched files — unmatched v0 files carry forward
    val v0 = Acid.readManifest(dir, 0).files.map(_.path).toSet
    val v1 = Acid.readManifest(dir, 1).files.map(_.path).toSet
    assert((v0 intersect v1).nonEmpty,
      "row-level UPDATE must not rewrite unmatched groups (runtime filter)")
    spark.sql("DROP TABLE acid_spec_v2upd_t")
  }

  test("DSv2 MERGE INTO lands matched updates and unmatched inserts in one commit") {
    val dir = freshTable("acid_spec_v2mrg")
    val mk = Tables.orders(spark, sf).agg(max(col("o_orderkey"))).head.getLong(0)
    spark.sql("DROP TABLE IF EXISTS acid_spec_v2mrg_t")
    spark.sql(
      s"""CREATE TABLE acid_spec_v2mrg_t (k BIGINT, price_cents BIGINT, prio STRING)
         |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    // CDC batch: updates for low k%10=3 keys, inserts beyond max key
    kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
      .select(col("k"), (col("price_cents") + 777).as("price_cents"),
        lit("PATCHED").as("prio"))
      .unionByName(kv(sf).filter(col("k") % 100 === 0)
        .select((col("k") + mk + 1).as("k"),
          (col("k") * 3 + 45).as("price_cents"), lit("NEW").as("prio")))
      .createOrReplaceTempView("acid_spec_v2mrg_batch")
    val vBefore = Acid.latestVersion(dir)
    spark.sql(
      """MERGE INTO acid_spec_v2mrg_t t
        |USING acid_spec_v2mrg_batch b ON t.k = b.k
        |WHEN MATCHED THEN UPDATE SET t.price_cents = b.price_cents, t.prio = b.prio
        |WHEN NOT MATCHED THEN INSERT (k, price_cents, prio)
        |  VALUES (b.k, b.price_cents, b.prio)""".stripMargin)
    assert(Acid.latestVersion(dir) == vBefore + 1, "MERGE commits one version")
    val after = Acid.snapshot(spark, dir)
    val nUpd = kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4)).count()
    val nIns = kv(sf).filter(col("k") % 100 === 0).count()
    assert(after.count() == kv(sf).count() + nIns)
    assert(after.filter(col("prio") === "PATCHED").count() == nUpd)
    assert(after.filter(col("prio") === "NEW").count() == nIns)
    // snapshot isolation held: pre-merge version still readable
    assert(Acid.snapshot(spark, dir, vBefore).count() == kv(sf).count())
    spark.sql("DROP TABLE acid_spec_v2mrg_t")
  }

  test("a losing commit leaves no tmp files behind in the log") {
    val dir = freshTable("acid_spec_tmpclean")
    val m1 = Acid.readManifest(dir, 0).copy(version = 1)
    Acid.commitManifest(dir, m1)
    // same-version commit: put-if-absent must refuse AND clean its tmp
    assert(Try(Acid.commitManifest(dir, m1)).isFailure)
    val logFiles = Files.list(Paths.get(dir, "_log"))
    try {
      val leftover = logFiles.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".tmp-")).toList
      assert(leftover.isEmpty, s"leaked tmp files: $leftover")
    } finally logFiles.close()
  }

  /** The lost-delete interleaving: a rewrite staged from v0, then a
    * merge-on-read delete that keeps the file's path and adds a deletion
    * vector, then the rewrite's commit. A path-only conflict check let
    * the rewrite land as v2 and the deleted row came back; the commit
    * compares the entries it read byte-for-byte and must refuse. */
  test("a rewrite refuses to commit over a concurrent merge-on-read delete") {
    val dir = Scratch.fresh("acid_spec_lost_delete", sf)
    Acid.create(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") * 10).as("v")), "k", 1)
    val read = Acid.readManifest(dir, 0).files
    assert(read.size == 1)
    // stage the rewrite of v0 into one file, as a row-level UPDATE would
    Acid.snapshot(spark, dir, 0).withColumn("v", col("v") + 1)
      .coalesce(1).write.parquet(s"$dir/d_rewrite")
    val rel = {
      val ls = Files.list(Paths.get(dir, "d_rewrite"))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSeq.head
      finally ls.close()
    }
    val staged = Seq(Acid.FileEntry(s"d_rewrite/$rel", 100L, 0L, 99L))
    // the concurrent delete lands first: same path, new deletion vector
    Acid.deleteWhereMor(spark, dir, col("k") === 5L, Some((5L, 5L)), "mor")
    assert(Acid.latestVersion(dir) == 1)
    assert(Acid.readManifest(dir, 1).files.map(_.path) == read.map(_.path))
    val r = Try(Acid.replaceCommit(dir, read, staged, op = "REWRITE"))
    assert(r.isFailure, s"the rewrite committed as v${r.getOrElse(-1)}")
    assert(Acid.latestVersion(dir) == 1)
    assert(Acid.snapshot(spark, dir).filter(col("k") === 5L).count() == 0L,
      "the deleted row must stay deleted")
  }

  /** One writer per file, each merging a single key from the middle of a
    * different file's manifest range: every lost race rebases metadata
    * only (at most 7 per writer, inside the commit loop's budget of 10),
    * so no writer re-runs its merge and every committed stage is the
    * first attempt's `a0` directory. */
  test("disjoint concurrent merges all land without re-applying") {
    import spark.implicits._
    val dir = Scratch.fresh("acid_spec_disjoint8", sf)
    Acid.create(spark, dir,
      spark.range(800).select(col("id").as("k"), lit(0L).as("v")), "k", 8)
    val files = Acid.readManifest(dir, 0).files
    assert(files.size == 8)
    val keys = files.map(f => f.minKey + (f.maxKey - f.minKey) / 2)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = keys.zipWithIndex.map { case (k, i) =>
      val th = new Thread(() => {
        Acid.merge(spark, dir, Seq((k, 1L)).toDF("k", "v"), s"w$i"): Unit
      })
      th.setUncaughtExceptionHandler((_, e) => { errs.add(e); () })
      th
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"writer thread failed: ${Option(errs.peek())}")
    assert(Acid.latestVersion(dir) == 8, "all eight commits must land")
    val snap = Acid.snapshot(spark, dir)
    assert(snap.count() == 800L)
    assert(snap.filter(col("v") === 1L).select("k").as[Long].collect().sorted
      .toSeq == keys.sorted, "every writer's row must apply exactly once")
    val stages = Acid.readManifest(dir, 8).files
      .map(_.path.takeWhile(_ != '/')).filterNot(_ == "d0_init").distinct
    assert(stages.size == 8 && stages.forall(_.endsWith("a0")),
      s"a writer re-ran its merge: $stages")
  }
}
