package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}

/** Round-16 pins: partition-aligned FILTERED aggregate pushdown and the
  * exact-filter claim beneath it (r15 verdict next #1).
  *
  * The claim: a pushed conjunction that decodes to EXACTLY an interval
  * over one monotone-transform partition source column, where every live
  * file's stamp proves it fully-inside or fully-outside, is removed from
  * Spark's residual — the scan serves exactly the inside files. Soundness
  * rests on three legs, each pinned here: (1) `partCellRange` is the
  * EXACT inverse of each monotone transform's eval (cell-tight on both
  * ends); (2) `exactInterval` REFUSES any filter shape that is not
  * precisely an interval (an In's gaps or an Or would relax, and a
  * relaxed claim returns wrong rows, not just unpruned ones); (3) an
  * inside verdict requires a stamped ZERO nullCount for the source
  * column — a restamped rewrite can carry a stamp over null-bearing
  * data, and a null row fails the predicate but not the file-level
  * classification. With the residual gone, Spark attempts aggregate
  * pushdown, and count(*)/min(key)/max(key) over partition-aligned
  * windows answer from the MANIFEST — zero parquet opens, the everyday
  * "count yesterday's partition" Iceberg answers from metadata.
  */
class Round16Spec extends AnyFunSuite {
  import TestSpark._

  test("partCellRange is the exact cell inverse of every monotone transform") {
    import Acid._
    val specs: Seq[PartSpec] = Seq(PartIdentity("c"), PartDays("ts"),
      PartHours("ts"), PartMonths("ts"), PartYears("ts"),
      PartTruncate(1024, "c"))
    // raw probes across sign, cell interiors and cell boundaries
    val raws = Seq(-123456789012345L, -86400000000L, -1L, 0L, 1L,
      999L, 86400000000L, 123456789012345L)
    for (ps <- specs; raw <- raws) {
      val p = ps.eval(raw)
      val (lo, hi) = partCellRange(ps, p).getOrElse(
        fail(s"$ps must be invertible"))
      assert(lo <= raw && raw <= hi, s"$ps cell must contain its member $raw")
      assert(ps.eval(lo) === p, s"$ps cell floor maps back")
      assert(ps.eval(hi) === p, s"$ps cell ceiling maps back")
      assert(ps.eval(lo - 1) < p, s"$ps cell floor is tight")
      assert(ps.eval(hi + 1) > p, s"$ps cell ceiling is tight")
    }
    // hash and string-domain transforms are not invertible — no claim
    assert(partCellRange(PartBucket(8, "k"), 3L).isEmpty)
    assert(partCellRange(PartTruncateStr(4, "s"), 3L).isEmpty)
  }

  test("exactInterval decodes intervals and refuses every relaxing shape") {
    import org.apache.spark.sql.sources._
    def dec(fs: Filter*) = AcidSql.exactInterval(fs, "k", time = false)
    assert(dec(GreaterThanOrEqual("k", 5L), LessThan("k", 10L),
      IsNotNull("k")) === Some((5L, 9L)))
    assert(dec(EqualTo("k", 7L)) === Some((7L, 7L)))
    assert(dec(And(GreaterThan("k", 4L), LessThanOrEqual("k", 9L))) ===
      Some((5L, 9L)))
    // unbounded IsNotNull alone is the degenerate full interval
    assert(dec(IsNotNull("k")) === Some((Long.MinValue, Long.MaxValue)))
    // provably-empty predicates encode as lo > hi
    assert(dec(GreaterThan("k", Long.MaxValue)).exists { case (l, h) => l > h })
    assert(dec(EqualTo("k", 3L), EqualTo("k", 4L)).exists {
      case (l, h) => l > h })
    // REFUSALS — each of these would relax if folded like boundsFold does
    assert(dec(In("k", Array(1L, 5L))).isEmpty, "In has gaps")
    assert(dec(Or(EqualTo("k", 1L), EqualTo("k", 2L))).isEmpty)
    assert(dec(Not(EqualTo("k", 1L))).isEmpty)
    assert(dec(IsNull("k")).isEmpty)
    assert(dec(EqualTo("k", "x")).isEmpty, "undecodable literal")
    assert(dec(GreaterThan("other", 1L)).isEmpty, "wrong column")
  }

  test("aligned filtered aggregates answer from the manifest; straddle/DV/null refuse") {
    val root = Scratch.fresh("r16_aggpart", sf)
    val cat = "r16ap"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    // 10 epoch-days x 100 rows: id 0..999 -> day id/100, second-of-day
    // (id%100)*864 — k tracks ts so window extremes are checkable
    spark.range(1000L).select(col("id").as("k"),
      timestamp_seconds((col("id") / 100).cast("long") * 86400L +
        (col("id") % 100) * 864L).as("ts"),
      (col("id") * 3).as("v"))
      .createOrReplaceTempView("r16_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT k, ts, v FROM r16_src")
    val win = "ts >= TIMESTAMP'1970-01-04 00:00:00' AND " +
      "ts < TIMESTAMP'1970-01-07 00:00:00'" // days 3..5 exactly
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(
      s"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi FROM $cat.ev WHERE $win")
    val r = q.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((300L, 300L, 599L)))
    assert(AcidSql.vecRowsFooter.sum() === 0L && AcidSql.rowGroupsRead.sum() === 0L,
      "partition-aligned filtered aggregate must open no data file")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // the claim also serves plain scans: no residual Filter in the plan
    val q3 = spark.sql(s"SELECT k FROM $cat.ev WHERE $win")
    assert(q3.count() === 300L)
    assert(q3.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, "aligned interval must be claimed exactly — no residual filter")
    // a STRADDLING bound (mid-day) refuses the push and stays exact
    val q2 = spark.sql(s"SELECT count(*) AS n FROM $cat.ev " +
      "WHERE ts >= TIMESTAMP'1970-01-04 12:00:00'")
    assert(q2.head.getLong(0) === 650L)
    assert(!q2.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a mid-cell boundary must refuse the metadata answer")
    // an aligned window PAST the data counts 0 from metadata alone
    AcidSql.resetRowGroupMetrics()
    val q4 = spark.sql(s"SELECT count(*) AS n FROM $cat.ev " +
      "WHERE ts >= TIMESTAMP'1980-01-01 00:00:00'")
    assert(q4.head.getLong(0) === 0L)
    assert(q4.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    assert(AcidSql.vecRowsFooter.sum() === 0L)
    // a deletion vector with round-17 per-file stamps: the aligned
    // COUNT still answers from the manifest by subtracting the stamped
    // per-file deleted count (capability superseding this pin's
    // original any-DV refusal — recorded in SURVEY §6.17); the claimed
    // scan path stays exact underneath
    Acid.deleteWhereMor(spark, s"$root/ev", col("k") === 310L, None, "w"): Unit
    AcidSql.resetRowGroupMetrics()
    val q5 = spark.sql(s"SELECT count(*) AS n FROM $cat.ev WHERE $win")
    assert(q5.head.getLong(0) === 299L)
    assert(q5.queryExecution.executedPlan.toString.contains("manifest-aggregate") &&
      AcidSql.vecRowsFooter.sum() === 0L,
      "an aligned count over r17-stamped DVs answers from the manifest")
    // min/max inside the same window still refuse — the vector may have
    // deleted the extreme rows
    val q5mm = spark.sql(s"SELECT min(k) AS lo FROM $cat.ev WHERE $win")
    assert(q5mm.head.getLong(0) === 300L)
    assert(!q5mm.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "min over a DV'd inside set must refuse")
    // NULL partition values: the null segment has no stamp, so the claim
    // refuses and the residual filter keeps the count exact
    spark.sql(s"DROP TABLE IF EXISTS $cat.nl")
    spark.sql(s"""CREATE TABLE $cat.nl (k BIGINT, ts TIMESTAMP)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    spark.range(100L).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null).cast("timestamp"))
        .otherwise(timestamp_seconds(col("id") * 1000L)).as("ts"))
      .createOrReplaceTempView("r16_nl_src")
    spark.sql(s"INSERT INTO $cat.nl SELECT k, ts FROM r16_nl_src")
    val q6 = spark.sql(s"SELECT count(*) AS n FROM $cat.nl " +
      "WHERE ts >= TIMESTAMP'1970-01-01 00:00:00'")
    assert(q6.head.getLong(0) === 90L, "null ts rows fail the predicate")
    assert(!q6.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "an unstamped (null-bearing) file must refuse the claim")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"DROP TABLE IF EXISTS $cat.nl")
  }

  test("truncate-partitioned key claims push and survive a rewrite restamp") {
    val root = Scratch.fresh("r16_aggtr", sf)
    val cat = "r16tr"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.tr")
    spark.sql(s"""CREATE TABLE $cat.tr (k BIGINT, v BIGINT)
                 |PARTITIONED BY (truncate(100, k))""".stripMargin)
    spark.range(1000L).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("r16_tr_src")
    spark.sql(s"INSERT INTO $cat.tr SELECT k, v FROM r16_tr_src")
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi " +
      s"FROM $cat.tr WHERE k >= 200 AND k < 500")
    val r = q.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((300L, 200L, 499L)))
    assert(AcidSql.vecRowsFooter.sum() === 0L && AcidSql.rowGroupsRead.sum() === 0L)
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // a row-level UPDATE rewrites the 200-cell's file; the restamped
    // entry must carry BOTH the transform stamp and the zero nullCount,
    // keeping the metadata answer alive
    spark.sql(s"UPDATE $cat.tr SET v = v + 1 WHERE k = 250")
    AcidSql.resetRowGroupMetrics()
    val q2 = spark.sql(s"SELECT count(*) AS n FROM $cat.tr " +
      s"WHERE k >= 200 AND k < 500")
    assert(q2.head.getLong(0) === 300L)
    assert(q2.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a restamped rewrite must keep the claim (stamp + zero nullCount)")
    assert(AcidSql.vecRowsFooter.sum() === 0L && AcidSql.rowGroupsRead.sum() === 0L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.tr")
  }

  test("exact-bounded string/date min/max answer from the manifest; envelopes refuse") {
    val root = Scratch.fresh("r16_aggstr", sf)
    val cat = "r16st"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, tag STRING, body STRING, d DATE)")
    // tag: short (exact bounds); body: 40 chars (truncated envelopes)
    spark.range(100L).select(col("id").as("k"),
      concat(lit("c"), lpad((col("id") % 7).cast("string"), 2, "0")).as("tag"),
      rpad(concat(lit("w"), col("id").cast("string")), 40, "x").as("body"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 30).cast("int")).as("d"))
      .createOrReplaceTempView("r16_str_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, tag, body, d FROM r16_str_src")
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT min(tag) AS mnt, max(tag) AS mxt, " +
      s"min(d) AS mnd, max(d) AS mxd, count(*) AS n FROM $cat.t")
    val r = q.head
    assert(r.getString(0) === "c00" && r.getString(1) === "c06")
    assert(r.getDate(2).toString === "2024-01-01" &&
      r.getDate(3).toString === "2024-01-30")
    assert(r.getLong(4) === 100L)
    assert(AcidSql.vecRowsFooter.sum() === 0L && AcidSql.rowGroupsRead.sum() === 0L,
      "exact-bounded string/date min/max must open no data file")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // a TRUNCATED (envelope) bound refuses — the stamped max is above
    // the true max by construction, serving it would be wrong
    val q2 = spark.sql(s"SELECT min(body) AS mn, max(body) AS mx FROM $cat.t")
    val r2 = q2.head
    assert(r2.getString(0) === ("w0" + "x" * 38))
    assert(r2.getString(1) === ("w9" + "x" * 38), // 'x' > '9': w9xx beats w99x
      r2.getString(1))
    assert(!q2.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "truncated bounds are envelopes — min/max must scan")
    // a mixed exact+envelope aggregate refuses as a whole and stays exact
    val q3 = spark.sql(s"SELECT min(tag) AS a, min(body) AS b FROM $cat.t")
    assert(q3.head.getString(0) === "c00")
    assert(!q3.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // the LIBRARY write path (statsOf) stamps the same marker
    val dir2 = s"$root/t2"
    Acid.create(spark, dir2, spark.range(50L).select(col("id").as("k"),
      concat(lit("g"), (col("id") % 5).cast("string")).as("tag")), "k", 4)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing") // catalog refresh
    AcidSql.resetRowGroupMetrics()
    val q4 = spark.sql(s"SELECT min(tag) AS mn, max(tag) AS mx FROM $cat.t2")
    val r4 = q4.head
    assert(r4.getString(0) === "g0" && r4.getString(1) === "g4")
    assert(AcidSql.vecRowsFooter.sum() === 0L &&
      q4.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "library-written (statsOf) files must serve exact bounds too")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("tbl_agg_pushdown_part oracle row: meta-answered window, exact straddle") {
    val df = graft.SparkEntry.queries("tbl_agg_pushdown_part")(spark, sf)
    val r = df.collect()(0)
    assert(r.getAs[Boolean]("meta_only"),
      "the aligned window must answer from the manifest")
    assert(r.getAs[Boolean]("straddle_refused"))
    assert(r.getAs[Long]("n") > 0L && r.getAs[Long]("n_straddle") > 0L)
    assert(r.getAs[Long]("n_straddle") < r.getAs[Long]("n"))
  }

  test("tbl_stats_numeric oracle row: pruned window + meta min/max") {
    val df = graft.SparkEntry.queries("tbl_stats_numeric")(spark, sf)
    val r = df.collect()(0)
    assert(r.getAs[Boolean]("pruned"), "the cents window must skip files")
    assert(r.getAs[Boolean]("meta_only"))
    assert(r.getAs[Long]("n_window") > 0L)
    assert(r.getAs[Long]("lo") === 0L)
    assert(r.getAs[Long]("hi") % 7 === 0L)
    assert(r.getAs[Long]("s_cents") % 7 === 0L && r.getAs[Long]("s_cents") > 0L)
    assert(r.getAs[Long]("n_nonnull") > r.getAs[Long]("n_window"))
  }

  test("tbl_agg_pushdown_group oracle row: 8 meta-answered groups") {
    val df = graft.SparkEntry.queries("tbl_agg_pushdown_group")(spark, sf)
    val rows = df.collect()
    assert(rows.length === 8)
    assert(rows.forall(_.getAs[Boolean]("meta_only")),
      "every group row must answer from the manifest")
    assert(rows.forall(_.getAs[Boolean]("nonpart_refused")))
    assert(rows.map(_.getAs[Long]("n")).sum > 0L)
    assert(rows.forall(r => r.getAs[Long]("lo") <= r.getAs[Long]("hi")))
  }

  test("tbl_agg_pushdown_str oracle row: meta-answered string min/max") {
    val df = graft.SparkEntry.queries("tbl_agg_pushdown_str")(spark, sf)
    val r = df.collect()(0)
    assert(r.getAs[Boolean]("meta_only"))
    assert(r.getAs[String]("lo_prio").nonEmpty &&
      r.getAs[String]("lo_prio") <= r.getAs[String]("hi_prio"))
    assert(r.getAs[Long]("n") > 0L)
  }

  /** GROUP BY over an identity-partition source column answers from the
    * manifest: segment-rolled files are single-valued in the column, so
    * groups ARE the stamped values — the per-partition dashboard shape
    * (`SELECT region, count(*) ... GROUP BY region`) that Iceberg's
    * partitions metadata table serves. Refusals: non-partition group
    * columns, null-bearing files (the NULL group is invisible to the
    * fold), more than one group column. */
  test("identity-partition GROUP BY answers from the manifest; impurities refuse") {
    val root = Scratch.fresh("r16_agggrp", sf)
    val cat = "r16gp"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, sev BIGINT, v BIGINT)
                 |PARTITIONED BY (sev)""".stripMargin)
    // 8 groups x 125 rows; k global 0..999 so per-group extremes are
    // checkable: group g holds k in {g, g+8, ...}
    spark.range(1000L).select(col("id").as("k"), (col("id") % 8).as("sev"),
      (col("id") * 3).as("v")).createOrReplaceTempView("r16_grp_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, sev, v FROM r16_grp_src")
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT sev, count(*) AS n, min(k) AS lo, " +
      s"max(k) AS hi FROM $cat.t GROUP BY sev ORDER BY sev")
    val rows = q.collect()
    assert(rows.length === 8)
    rows.zipWithIndex.foreach { case (r, g) =>
      assert(r.getLong(0) === g.toLong)
      assert(r.getLong(1) === 125L, s"group $g count")
      assert(r.getLong(2) === g.toLong, s"group $g min k")
      assert(r.getLong(3) === (992 + g).toLong, s"group $g max k")
    }
    assert(AcidSql.vecRowsFooter.sum() === 0L &&
      AcidSql.rowGroupsRead.sum() === 0L,
      "grouped metadata aggregate must open no data file")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // SELECT DISTINCT <partition col> is the aggregate-free grouping
    AcidSql.resetRowGroupMetrics()
    val qd = spark.sql(s"SELECT DISTINCT sev FROM $cat.t ORDER BY sev")
    assert(qd.collect().map(_.getLong(0)).toSeq === (0L to 7L))
    assert(qd.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "aggregate-free grouping (DISTINCT) must push too")
    assert(AcidSql.vecRowsFooter.sum() === 0L)
    // count(sev) rides the round-16 partition-source nullCount stamps;
    // count(v) rides the numeric nstats nullCounts (same round)
    val qc = spark.sql(s"SELECT sev, count(sev) AS n FROM $cat.t " +
      s"GROUP BY sev ORDER BY sev")
    assert(qc.collect().forall(_.getLong(1) === 125L))
    assert(qc.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    val qv = spark.sql(s"SELECT sev, count(v) AS n FROM $cat.t GROUP BY sev")
    assert(qv.collect().forall(_.getLong(1) === 125L))
    assert(qv.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "numeric nullCount stamps serve grouped count(col) too")
    // grouped SUM rides the stamped per-file sums: v = k*3 and group g
    // holds k in {g, g+8, ..., g+992}, so sum = 375g + 186000
    val qsum = spark.sql(s"SELECT sev, sum(v) AS s FROM $cat.t " +
      s"GROUP BY sev ORDER BY sev")
    qsum.collect().zipWithIndex.foreach { case (r, g) =>
      assert(r.getLong(1) === 375L * g + 186000L, s"group $g sum")
    }
    assert(qsum.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "grouped sum must fold from the manifest")
    // a NON-partition group column refuses to the scan and stays exact
    val qr = spark.sql(s"SELECT v % 2 AS p, count(*) AS n FROM $cat.t " +
      s"GROUP BY v % 2")
    assert(qr.collect().map(_.getLong(1)).sum === 1000L)
    assert(!qr.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // an aligned exact-claim window COMPOSES with the grouping: the
    // group fold runs over the inside files only
    AcidSql.resetRowGroupMetrics()
    val qw = spark.sql(s"SELECT sev, count(*) AS n FROM $cat.t " +
      s"WHERE sev >= 2 AND sev <= 3 GROUP BY sev ORDER BY sev")
    val wr = qw.collect()
    assert(wr.map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      Seq((2L, 125L), (3L, 125L)))
    assert(qw.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    assert(AcidSql.vecRowsFooter.sum() === 0L)
    // NULL group values: a null-bearing file refuses the push and the
    // scan serves the NULL group SQL requires
    spark.sql(s"DROP TABLE IF EXISTS $cat.nl")
    spark.sql(s"""CREATE TABLE $cat.nl (k BIGINT, sev BIGINT)
                 |PARTITIONED BY (sev)""".stripMargin)
    spark.range(100L).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null).cast("bigint"))
        .otherwise(col("id") % 4).as("sev"))
      .createOrReplaceTempView("r16_grpnl_src")
    spark.sql(s"INSERT INTO $cat.nl SELECT k, sev FROM r16_grpnl_src")
    val qn = spark.sql(s"SELECT sev, count(*) AS n FROM $cat.nl GROUP BY sev")
    val nRows = qn.collect()
    assert(nRows.length === 5 && nRows.exists(_.isNullAt(0)),
      "the NULL group must appear")
    assert(!qn.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a null-bearing partition column must refuse the grouped push")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"DROP TABLE IF EXISTS $cat.nl")
  }

  /** Numeric non-key column stats (round-16, the numeric twin of the
    * round-9 string cstats — Iceberg stamps lower/upper bounds for every
    * column): integral/timestamp non-key columns now stamp exact
    * long-widened [min,max] (`I:` manifest tag) plus nullCount and NDV
    * in the same write pass, on BOTH write paths. Consumers pinned here:
    * file skipping on range/equality/IN predicates (V2 scan + V1
    * relation), metadata min/max (exact by nature — no truncation
    * marker needed), count(col) via the stamped nullCounts, and the
    * all-null-file proof (nullCount == rows ⇒ the file contributes
    * nothing to min/max, which skip nulls). */
  test("numeric nstats: files skip, min/max/count answer from the manifest") {
    import spark.implicits._
    val root = Scratch.fresh("r16_nstats", sf)
    val cat = "r16ns"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, cents BIGINT, note STRING, " +
      "ratio DOUBLE)")
    // 4 single-file inserts with disjoint cents ranges (cents = k * 3)
    (0 until 4).foreach { b =>
      (b * 250L until (b + 1) * 250L).map(k => (k, k * 3, s"n$k", k / 10.0))
        .toDF("k", "cents", "note", "ratio").coalesce(1)
        .createOrReplaceTempView(s"r16_ns_$b")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM r16_ns_$b")
    }
    val dir = s"$root/t"
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.size === 4)
    m.files.foreach { f =>
      val ns = f.nstats.find(_._1 == "cents")
      assert(ns.exists { case (_, mn, mx) =>
        mn == f.minKey * 3 && mx == f.maxKey * 3 },
        s"exact numeric stamp expected: $ns vs keys [${f.minKey},${f.maxKey}]")
      assert(f.nulls.contains(("cents", 0L)), "numeric nullCount stamped")
    }
    // range predicate prunes to the one covering file, rows stay exact
    val q1 = spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      "WHERE cents >= 900 AND cents < 1200")
    assert(q1.head.getLong(0) === 100L)
    assert(AcidSql.lastScanFor(dir) === ((1, 4)),
      s"cents range must prune: ${AcidSql.lastScanFor(dir)}")
    // scattered IN probes skip the gap files the envelope would keep
    val q2 = spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      "WHERE cents IN (30, 2700)")
    assert(q2.head.getLong(0) === 2L)
    assert(AcidSql.lastScanFor(dir) === ((2, 4)),
      s"IN probes must skip the gap: ${AcidSql.lastScanFor(dir)}")
    // min/max/count(col)/sum(col) answer from the manifest — exact,
    // zero opens (sum folds the stamped per-file exact sums)
    AcidSql.resetRowGroupMetrics()
    val q3 = spark.sql(s"SELECT min(cents) AS lo, max(cents) AS hi, " +
      s"count(cents) AS n, sum(cents) AS s FROM $cat.t")
    val r3 = q3.head
    assert((r3.getLong(0), r3.getLong(1), r3.getLong(2)) === ((0L, 2997L, 1000L)))
    assert(r3.getLong(3) === 3L * 999L * 1000L / 2L, "exact metadata sum")
    assert(AcidSql.vecRowsFooter.sum() === 0L &&
      AcidSql.rowGroupsRead.sum() === 0L &&
      q3.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "numeric min/max/count must fold from nstats")
    // DOUBLE stays deliberately unstamped (NaN/-0.0 ordering hazards):
    // min/max over it refuses to the scan and stays exact
    val qd = spark.sql(s"SELECT min(ratio) AS lo FROM $cat.t")
    assert(qd.head.getDouble(0) === 0.0)
    assert(!qd.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "float/double min/max must refuse the metadata fold")
    // an ALL-NULL-cents file: unstamped, but nullCount == rows proves it
    // contributes nothing — min/max still push; range scans keep it
    (1000L until 1100L)
      .map(k => (k, null.asInstanceOf[java.lang.Long], s"n$k", k / 10.0))
      .toDF("k", "cents", "note", "ratio").coalesce(1)
      .createOrReplaceTempView("r16_ns_null")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM r16_ns_null")
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val nullFile = m2.files.find(_.minKey == 1000L).get
    assert(nullFile.nstats.forall(_._1 != "cents") &&
      nullFile.nulls.contains(("cents", 100L)),
      "all-null file: no stamp, nullCount == rows")
    AcidSql.resetRowGroupMetrics()
    val q4 = spark.sql(s"SELECT min(cents) AS lo, max(cents) AS hi, " +
      s"sum(cents) AS s FROM $cat.t")
    assert((q4.head.getLong(0), q4.head.getLong(1)) === ((0L, 2997L)))
    assert(q4.head.getLong(2) === 3L * 999L * 1000L / 2L,
      "an all-null file contributes nothing to the sum")
    assert(q4.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a PROVEN all-null file must not block the metadata fold")
    val q5 = spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      "WHERE cents >= 900 AND cents < 1200")
    assert(q5.head.getLong(0) === 100L)
    assert(AcidSql.lastScanFor(dir) === ((2, 5)),
      "the unstamped file is conservatively kept by range pruning")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("numeric nstats: V1 relation prunes, library path stamps") {
    import spark.implicits._
    val root = Scratch.fresh("r16_nstats_v1", sf)
    val dir = s"$root/t"
    Acid.create(spark, dir,
      (0L until 100L).map(k => (k, k * 7, s"x$k")).toDF("k", "cents", "note"),
      "k", 4)
    val m = Acid.readManifest(dir, 0)
    assert(m.files.size === 4)
    m.files.foreach { f =>
      assert(f.nstats.exists { case (c, mn, mx) =>
        c == "cents" && mn == f.minKey * 7 && mx == f.maxKey * 7 },
        s"library statsOf must stamp numeric bounds: ${f.nstats}")
      assert(f.nulls.contains(("cents", 0L)))
      assert(f.ndv.exists(_._1 == "cents"), "HLL NDV stamped for CBO")
    }
    val v1 = spark.read.format("graft-acid").load(dir)
    assert(v1.filter(col("cents") === 7L * 50L).count() === 1L)
    assert(AcidRelation.lastScanFor(dir) === ((1, 4)),
      s"V1 numeric probe must prune: ${AcidRelation.lastScanFor(dir)}")
    // scattered IN skips the gap files the envelope would keep (V1 too)
    assert(v1.filter(col("cents").isin(7L * 5L, 7L * 95L)).count() === 2L)
    assert(AcidRelation.lastScanFor(dir) === ((2, 4)),
      s"V1 IN probes must skip the gap: ${AcidRelation.lastScanFor(dir)}")
    assert(v1.filter(col("cents") >= 0L).count() === 100L)
    // a MERGE rewrite re-stamps numeric stats through statsOf — the
    // rewrite path is where column stamps historically got dropped
    assert(!Acid.merge(spark, dir,
      Seq((50L, 999999L, "upd")).toDF("k", "cents", "note"), "w").skipped)
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    m2.files.foreach { f =>
      assert(f.nstats.exists(_._1 == "cents") &&
        f.nsums.exists(_._1 == "cents") &&
        f.nulls.contains(("cents", 0L)),
        s"rewritten files must keep numeric stamps: ${f.path}")
    }
    val hit = m2.files.find(f => f.minKey <= 50L && 50L <= f.maxKey).get
    assert(hit.nstats.exists { case (c, _, mx) => c == "cents" && mx == 999999L },
      "the rewritten file's numeric max must cover the updated value")
    // (no float column in this fixture — the fstats rewrite-survival pin
    // lives in the float V1 test below via the same statsOf path)
    assert(spark.read.format("graft-acid").load(dir)
      .filter(col("cents") === 999999L).count() === 1L)
    assert(AcidRelation.lastScanFor(dir)._1 === 1,
      "post-rewrite stamps must keep pruning")
  }

  test("float fstats: V1 relation prunes with the NaN rule, library path stamps") {
    import spark.implicits._
    val root = Scratch.fresh("r16_fstats_v1", sf)
    val dir = s"$root/t"
    // file layout by key quartiles: scores 0.5..99.5 track k; the last
    // quartile additionally carries NaN rows
    Acid.create(spark, dir,
      (0L until 100L).map(k =>
        (k, if (k >= 75L && k % 10 == 0) Double.NaN else k + 0.5))
        .toDF("k", "score"),
      "k", 4)
    val m = Acid.readManifest(dir, 0)
    assert(m.files.size === 4)
    m.files.foreach { f =>
      val st = f.fstats.find(_._1 == "score")
      assert(st.isDefined, s"library statsOf must stamp float bounds: ${f.path}")
      val (_, mn, mx, nan) = st.get
      assert(Acid.dblFromSortBits(mn) >= f.minKey + 0.5 - 1e-9)
      assert(if (f.minKey >= 75L) nan > 0L else nan === 0L,
        s"NaN count must be stamped: ${f.path} nan=$nan")
      assert(Acid.dblFromSortBits(mx) <= f.maxKey + 0.5 + 1e-9)
    }
    val v1 = spark.read.format("graft-acid").load(dir)
    // upper-bounded window prunes to the covering file, NaN file included
    // only if its bounds overlap (they don't here)
    assert(v1.filter(col("score") > 30.0 && col("score") < 40.0).count() === 10L)
    assert(AcidRelation.lastScanFor(dir) === ((1, 4)),
      s"V1 float window must prune: ${AcidRelation.lastScanFor(dir)}")
    // a lower-bound-only predicate past all finite values still reads the
    // nan-bearing file — its NaN rows MATCH
    assert(v1.filter(col("score") >= 1000.0).count() === 2L) // k=80, 90
    assert(AcidRelation.lastScanFor(dir) === ((1, 4)),
      s"only the nan-bearing file may survive: ${AcidRelation.lastScanFor(dir)}")
    // a MERGE rewrite re-stamps float stats through the same statsOf
    // pass that stamps everything else — pruning survives maintenance
    assert(!Acid.merge(spark, dir,
      Seq((35L, 999.25)).toDF("k", "score"), "w").skipped)
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val hit = m2.files.find(f => f.minKey <= 35L && 35L <= f.maxKey).get
    val st2 = hit.fstats.find(_._1 == "score").get
    assert(Acid.dblFromSortBits(st2._3) === 999.25,
      "the rewritten file's float max must cover the updated value")
    assert(spark.read.format("graft-acid").load(dir)
      .filter(col("score") === 999.25).count() === 1L)
  }

  /** Round16Probe (now in git history) measured the sizeInBytes row heuristic 20x OVER on a
    * real post-shuffle foreachBatch micro-batch (est 20131, actual 1000)
    * — past the r15 verdict's 10x line, so the bloom floor can no longer
    * trust an inexact estimate near the floor: inside the measured error
    * envelope one count of the (provably small) batch decides exactly.
    * The shape below is the probe's, non-streaming: a ~1000-row
    * aggregate of a 40k-row parquet source estimates well above the
    * 4096-row floor, and before the band fix every such micro-batch
    * paid the bloom build the floor exists to shed. */
  test("bloom floor ambiguity band: over-estimated small batch decides by exact count") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val root = Scratch.fresh("r16_bloom_band", sf)
    val hc = spark.sparkContext.hadoopConfiguration
    val srcDir = s"$root/src"
    spark.range(40000L).select((col("id") % 1000L + 500000L).as("k"),
      (col("id") * 3L).as("v")).write.parquet(srcDir)
    val batch = spark.read.parquet(srcDir)
      .groupBy("k").agg(max(col("v")).as("v"))
    val est = Acid.estRowsMeta(batch)
    assert(est.exists { case (n, exact) => !exact && n >= Acid.BloomRowFloor },
      s"fixture must over-estimate past the floor to exercise the band: $est")
    val dir = s"$root/t"
    Acid.create(spark, dir,
      spark.range(1000L).select(col("id").as("k"), lit(1L).as("v")), "k", 2)
    val before = Acid.readManifest(dir, Acid.latestVersion(dir))
      .files.map(_.path).toSet
    val saved = Option(hc.get("parquet.enable.dictionary#k"))
    hc.set("parquet.enable.dictionary#k", "false")
    try assert(!Acid.merge(spark, dir, batch, "w").skipped)
    finally saved.fold(hc.unset("parquet.enable.dictionary#k"))(
      hc.set("parquet.enable.dictionary#k", _))
    val fresh = Acid.readManifest(dir, Acid.latestVersion(dir))
      .files.filterNot(f => before(f.path))
    assert(fresh.nonEmpty, "insert-only merge must land a new file")
    val offsets = fresh.flatMap { f =>
      val fr = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(s"$dir/${f.path}"), hc))
      try fr.getFooter.getBlocks.asScala.toSeq.map(
        _.getColumns.asScala.find(_.getPath.toDotString == "k")
          .get.getBloomFilterOffset)
      finally fr.close()
    }
    assert(offsets.forall(_ < 0),
      s"a 1000-actual-row batch must skip the bloom however inflated " +
        s"its plan estimate: $offsets")
  }

  // ---- Metadata-aligned DELETE (round-16 continuation): fully-inside
  // files DROP from the manifest with zero reads and zero rewrites; only
  // straddlers pay copy-on-write; every refusal leg keeps rows exact ----

  test("aligned SQL DELETE drops fully-inside day partitions without a rewrite") {
    val root = Scratch.fresh("r16_deldays", sf)
    val cat = "r16dd"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    // 10 epoch-days x 100 rows: day = id/100, second-of-day (id%100)*864
    spark.range(1000L).select(col("id").as("k"),
      timestamp_seconds((col("id") / 100).cast("long") * 86400L +
        (col("id") % 100) * 864L).as("ts"),
      (col("id") * 3).as("v"))
      .createOrReplaceTempView("r16_dd_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT k, ts, v FROM r16_dd_src")
    val dir = s"$root/ev"
    val v0 = Acid.latestVersion(dir)
    val files0 = Acid.readManifest(dir, v0).files.map(_.path).toSet
    // retention delete at an exact day boundary: days 0..2 (300 rows)
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < TIMESTAMP'1970-01-04 00:00:00'")
    val v1 = Acid.latestVersion(dir)
    assert(v1 === v0 + 1, "the delete must be one commit")
    val m1 = Acid.readManifest(dir, v1)
    assert(m1.files.map(_.path).toSet.subsetOf(files0),
      "a fully-aligned delete must be metadata-only: no rewritten file")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"d${v1}_sqldel")),
      "no data directory may be written for a metadata-only delete")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) === 700L)
    assert(spark.sql(s"SELECT min(k) FROM $cat.ev").head.getLong(0) === 300L)
    // a STRADDLING boundary (mid-day 5): days 3..4 still drop whole,
    // the half-covered day-5 file rewrites, days 6..9 carry forward
    val files1 = m1.files.map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.ev WHERE ts < TIMESTAMP'1970-01-06 12:00:00'")
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val rewritten = m2.files.map(_.path).toSet -- files1
    assert(rewritten.nonEmpty, "the straddling day must be rewritten")
    assert(rewritten.forall(_.startsWith(s"d${v1 + 1}_sqldel")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) === 450L)
    assert(spark.sql(s"SELECT min(k) FROM $cat.ev").head.getLong(0) === 550L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
  }

  test("key-aligned SQL DELETE drops whole files via the explicit key-null stamp") {
    val root = Scratch.fresh("r16_delkey", sf)
    val dir = s"$root/t"
    Acid.create(spark, dir, spark.range(800L).toDF("id")
      .select(col("id").as("k"), (col("id") * 7).as("v")), "k", 8)
    spark.sql("DROP TABLE IF EXISTS r16_delkey_t")
    spark.sql(s"""CREATE TABLE r16_delkey_t (k BIGINT, v BIGINT)
                 |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    val m0 = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m0.files.forall(_.nulls.contains(("k", 0L))),
      "the library stats pass must stamp the key's explicit zero null count")
    // cutoff exactly on the 3rd file's upper bound
    val sorted = m0.files.sortBy(_.minKey)
    val cut = sorted(2).maxKey
    spark.sql(s"DELETE FROM r16_delkey_t WHERE k <= $cut")
    val m1 = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m1.files.map(_.path).toSet.subsetOf(m0.files.map(_.path).toSet),
      "a boundary-aligned key delete must drop files, not rewrite them")
    assert(m1.files.size === m0.files.size - 3)
    val r = spark.sql("SELECT count(*), min(k) FROM r16_delkey_t").head
    assert((r.getLong(0), r.getLong(1)) === ((800L - (cut + 1), cut + 1)))
    // pre-round-16 manifests carry no key null stamp: the drop must
    // refuse (a tight min/max alone cannot prove the absence of null
    // keys) and the rewrite path keeps the rows exact
    val stripped = m1.copy(version = m1.version + 1,
      files = m1.files.map(f => f.copy(nulls = f.nulls.filterNot(_._1 == "k"))),
      cdcPath = None, op = "WRITE")
    Acid.commitManifest(dir, stripped)
    val cut2 = m1.files.sortBy(_.minKey).head.maxKey
    spark.sql(s"DELETE FROM r16_delkey_t WHERE k <= $cut2")
    // the refusal shows as the REWRITE path running: its data directory
    // exists on disk (the covered file rewrites to zero rows, so no new
    // manifest entry need appear)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir,
      s"d${Acid.latestVersion(dir)}_sqldel")),
      "an unstamped manifest must refuse the drop and rewrite instead")
    val r2 = spark.sql("SELECT count(*), min(k) FROM r16_delkey_t").head
    assert((r2.getLong(0), r2.getLong(1)) === ((800L - (cut2 + 1), cut2 + 1)))
    spark.sql("DROP TABLE IF EXISTS r16_delkey_t")
  }

  test("aligned DELETE on a numeric column: nulls refuse the drop, null-free files drop") {
    val root = Scratch.fresh("r16_delnum", sf)
    val cat = "r16dn"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    // null-bearing file: bounds land fully inside the interval, but the
    // stamped nullCount>0 refuses the drop — the 10 NULL rows (which the
    // predicate must NOT delete) survive through the rewrite
    spark.sql(s"DROP TABLE IF EXISTS $cat.nn")
    spark.sql(s"CREATE TABLE $cat.nn (k BIGINT, cents BIGINT)")
    spark.range(100L).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null).cast("long"))
        .otherwise(col("id")).as("cents"))
      .createOrReplaceTempView("r16_dn_src")
    spark.sql(s"INSERT INTO $cat.nn SELECT k, cents FROM r16_dn_src")
    spark.sql(s"DELETE FROM $cat.nn WHERE cents >= 0 AND cents <= 99")
    assert(spark.sql(s"SELECT count(*) FROM $cat.nn").head.getLong(0) === 10L,
      "NULL rows fail the predicate and must survive the delete")
    assert(spark.sql(s"SELECT count(cents) FROM $cat.nn").head.getLong(0) === 0L)
    // null-free files with exact numeric stamps DO drop: second commit's
    // range is untouched, first commit's files leave without a rewrite
    spark.sql(s"DROP TABLE IF EXISTS $cat.nf")
    spark.sql(s"CREATE TABLE $cat.nf (k BIGINT, cents BIGINT)")
    spark.range(100L).select(col("id").as("k"), col("id").as("cents"))
      .createOrReplaceTempView("r16_dn_src1")
    spark.range(100L).select((col("id") + 100L).as("k"),
      (col("id") + 100L).as("cents")).createOrReplaceTempView("r16_dn_src2")
    spark.sql(s"INSERT INTO $cat.nf SELECT k, cents FROM r16_dn_src1")
    spark.sql(s"INSERT INTO $cat.nf SELECT k, cents FROM r16_dn_src2")
    val dir = s"$root/nf"
    val before = Acid.readManifest(dir, Acid.latestVersion(dir))
      .files.map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.nf WHERE cents <= 99")
    val after = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(after.files.map(_.path).toSet.subsetOf(before),
      "null-free fully-inside files must drop on their nstats evidence")
    val r = spark.sql(s"SELECT count(*), min(cents) FROM $cat.nf").head
    assert((r.getLong(0), r.getLong(1)) === ((100L, 100L)))
    spark.sql(s"DROP TABLE IF EXISTS $cat.nn")
    spark.sql(s"DROP TABLE IF EXISTS $cat.nf")
  }

  test("runtime V2 filtering: a join's dim side prunes fact files at execution") {
    val root = Scratch.fresh("r16_rtf", sf)
    val dir = s"$root/fact"
    Acid.create(spark, dir, spark.range(8000L).toDF("id")
      .select(col("id").as("k"), (col("id") % 97).as("v")), "k", 8)
    spark.sql("DROP TABLE IF EXISTS r16_rtf_fact")
    spark.sql(s"""CREATE TABLE r16_rtf_fact (k BIGINT, v BIGINT)
                 |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    // dim must be a FILE relation (a LocalRelation constant-folds before
    // the PartitionPruning rule) with a runtime-selective filter whose
    // surviving keys land inside ONE fact file's range
    val dimPath = s"$root/dim"
    spark.range(8000L).select(col("id").as("fk"),
      when(col("id").between(2000, 2002), lit("hot"))
        .otherwise(lit("cold")).as("label"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("label") === "hot")
    val q = spark.table("r16_rtf_fact").join(dim, col("k") === col("fk"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
    AcidSql.resetRowGroupMetrics()
    val r = q.head
    assert(r.getLong(0) === 3L)
    assert(r.getLong(1) === (2000L % 97 + 2001L % 97 + 2002L % 97))
    assert(q.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "the join must inject a runtime IN filter on the fact key")
    val decoded = AcidSql.vecRowsFooter.sum()
    assert(decoded > 0 && decoded * 4 <= 8000L,
      s"runtime pruning must drop most fact files: decoded=$decoded")
    // a NULLABLE dim key puts a null literal in the runtime IN-set: it
    // is inert (a null probe matches no row), never a crash, and the
    // remaining literals keep pruning
    val dimNull = s"$root/dimnull"
    spark.range(8000L).select(
      when(col("id") === 4000L, lit(null).cast("long"))
        .otherwise(col("id")).as("fk"),
      when(col("id").between(2000, 2002) || col("id") === 4000L, lit("hot"))
        .otherwise(lit("cold")).as("label"))
      .write.mode("overwrite").parquet(dimNull)
    AcidSql.resetRowGroupMetrics()
    val qn = spark.table("r16_rtf_fact")
      .join(spark.read.parquet(dimNull).filter(col("label") === "hot"),
        col("k") === col("fk"))
      .agg(count(lit(1)).as("n"))
    assert(qn.head.getLong(0) === 3L, "the null dim key matches nothing")
    val decodedN = AcidSql.vecRowsFooter.sum()
    assert(decodedN > 0 && decodedN * 4 <= 8000L,
      s"pruning must survive a null probe: decoded=$decodedN")
    spark.sql("DROP TABLE IF EXISTS r16_rtf_fact")
  }

  test("date-aligned DELETE classifies on cstats ISO bounds in epoch days") {
    val root = Scratch.fresh("r16_deldate", sf)
    val cat = "r16dd2"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, dt DATE, v BIGINT)")
    // 400 rows over 100 consecutive days, date-clustered into 4 files
    spark.range(400L).select(col("id").as("k"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") / 4).cast("int")).as("dt"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("r16_dd2_src")
    spark.sql(s"""INSERT INTO $cat.t
                 |SELECT /*+ REPARTITION_BY_RANGE(4, dt) */ k, dt, v
                 |FROM r16_dd2_src""".stripMargin)
    val dir = s"$root/t"
    val m0 = Acid.readManifest(dir, Acid.latestVersion(dir))
    // cutoff exactly one day past a file's max date: that file (and any
    // earlier) is wholly covered — the delete must be metadata-only
    val firstMax = m0.files.flatMap(_.cstats.find(_._1 == "dt").map(_._3))
      .sorted.head
    val cutoff = java.time.LocalDate.parse(firstMax).plusDays(1)
    val before = m0.files.map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.t WHERE dt < DATE'$cutoff'")
    val v1 = Acid.latestVersion(dir)
    val m1 = Acid.readManifest(dir, v1)
    assert(m1.files.map(_.path).toSet.subsetOf(before),
      "a boundary-aligned date delete must drop files, not rewrite")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"d${v1}_sqldel")))
    val expected = spark.sql(s"SELECT count(*) FROM r16_dd2_src " +
      s"WHERE NOT (dt < DATE'$cutoff')").head.getLong(0)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      === expected)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("deleteCore with dropped files: CDC reads them once, counts stay exact") {
    import spark.implicits._
    val root = Scratch.fresh("r16_dropcdc", sf)
    val dir = s"$root/t"
    Acid.create(spark, dir, (0L until 100L).map(k => (k, k * 2))
      .toDF("k", "v"), "k", 4)
    val m = Acid.readManifest(dir, 0)
    val sorted = m.files.sortBy(_.minKey)
    // drop the first file wholesale (DV-free, every live row "matches"),
    // carry the rest — the aligned path's shape, driven directly so the
    // CDC-on-drop contract stays pinned even though the SQL path never
    // sets writeCdf
    val dropped = Seq(sorted.head)
    val untouched = sorted.tail
    val (nDel, nRewritten, _) = Acid.deleteCore(spark, dir, 0, m,
      Seq.empty, dropped, untouched,
      col("k") <= sorted.head.maxKey, "cdctest", writeCdf = true)
    assert(nDel === sorted.head.rows && nRewritten === 0)
    assert(Acid.snapshot(spark, dir).count() === 100L - sorted.head.rows)
    // the change feed carries every dropped row as a delete
    val cdc = Acid.changeFeed(spark, dir, 0, 1)
    assert(cdc.filter(col("change_type") === "delete").count() === sorted.head.rows)
    assert(cdc.agg(min(col("k")), max(col("k"))).head.toSeq ===
      Seq(sorted.head.minKey, sorted.head.maxKey))
  }

  test("partition-set DELETE drops identity partitions metadata-only") {
    val root = Scratch.fresh("r16_delset", sf)
    val cat = "r16ds"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, sev BIGINT, v BIGINT)
                 |PARTITIONED BY (sev)""".stripMargin)
    spark.range(800L).select(col("id").as("k"), (col("id") % 8).as("sev"),
      (col("id") * 3).as("v")).createOrReplaceTempView("r16_ds_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, sev, v FROM r16_ds_src")
    val dir = s"$root/t"
    val v0 = Acid.latestVersion(dir)
    val files0 = Acid.readManifest(dir, v0).files.map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.t WHERE sev IN (2, 5)")
    val v1 = Acid.latestVersion(dir)
    val m1 = Acid.readManifest(dir, v1)
    assert(v1 === v0 + 1 && m1.files.map(_.path).toSet.subsetOf(files0),
      "set-aligned partition delete must be metadata-only")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"d${v1}_sqldel")))
    val r = spark.sql(
      s"SELECT count(*), count(DISTINCT sev) FROM $cat.t").head
    assert((r.getLong(0), r.getLong(1)) === ((600L, 6L)))
    // a set no live partition holds is a pure no-op: no commit at all
    spark.sql(s"DELETE FROM $cat.t WHERE sev IN (97, 99)")
    assert(Acid.latestVersion(dir) === v1, "no-member set must not commit")
    // conjunction of INs intersects exactly: {1,3} ∩ {3,4} = {3}
    spark.sql(s"DELETE FROM $cat.t WHERE sev IN (1, 3) AND sev IN (3, 4)")
    val r2 = spark.sql(
      s"SELECT count(*), count(DISTINCT sev) FROM $cat.t").head
    assert((r2.getLong(0), r2.getLong(1)) === ((500L, 5L)),
      "only sev=3 may leave")
    assert(Acid.readManifest(dir, Acid.latestVersion(dir))
      .files.map(_.path).toSet.subsetOf(files0), "still metadata-only")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("TRUNCATE and unconditional DELETE are one metadata commit") {
    val root = Scratch.fresh("r16_trunc", sf)
    val cat = "r16tc"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.range(500L).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("r16_tc_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, v FROM r16_tc_src")
    val dir = s"$root/t"
    val vIns = Acid.latestVersion(dir)
    spark.sql(s"TRUNCATE TABLE $cat.t")
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.isEmpty && m.op === "TRUNCATE")
    assert(Acid.latestVersion(dir) === vIns + 1, "one commit, no rewrite")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) === 0L)
    // pre-truncate rows still time-travel; the table stays writable
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $vIns")
      .head.getLong(0) === 500L)
    spark.sql(s"INSERT INTO $cat.t SELECT k, v FROM r16_tc_src")
    // DELETE with no WHERE routes through the same metadata path
    spark.sql(s"DELETE FROM $cat.t")
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m2.files.isEmpty && m2.op === "TRUNCATE")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) === 0L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("float stats: NaN-aware pruning, zero equality, metadata min/max refusals") {
    val root = Scratch.fresh("r16_flt", sf)
    val cat = "r16fl"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, x DOUBLE)")
    // file A: x in [0.5, 99.5]
    spark.range(100L).select(col("id").as("k"), (col("id") + lit(0.5d)).as("x"))
      .createOrReplaceTempView("r16_fl_a")
    spark.sql(s"INSERT INTO $cat.t SELECT k, x FROM r16_fl_a")
    // file B: x in [1000.5, 1099.5] with a NaN every 10th row
    spark.range(100L).select((col("id") + 100L).as("k"),
      when(col("id") % 10 === 0, lit(Double.NaN))
        .otherwise(col("id") + lit(1000.5d)).as("x"))
      .createOrReplaceTempView("r16_fl_b")
    spark.sql(s"INSERT INTO $cat.t SELECT k, x FROM r16_fl_b")
    // a LOWER-bound-only predicate no finite row satisfies still matches
    // the NaN rows (NaN orders above everything): the nan-bearing file
    // must survive pruning, the NaN-free file must not
    AcidSql.resetRowGroupMetrics()
    val q1 = spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE x >= 2000.0")
    assert(q1.head.getLong(0) === 10L, "NaN rows satisfy x >= 2000")
    val decoded1 = AcidSql.vecRowsFooter.sum()
    assert(decoded1 === 100L,
      s"only the nan-bearing file may be read: decoded=$decoded1")
    // an UPPER-bounded window excludes NaN — the nan-bearing file prunes
    // on bounds alone
    AcidSql.resetRowGroupMetrics()
    val q2 = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t WHERE x > 50.0 AND x < 60.0")
    assert(q2.head.getLong(0) === 10L) // 50.5 .. 59.5
    val decoded2 = AcidSql.vecRowsFooter.sum()
    assert(decoded2 > 0L && decoded2 <= 75L,
      s"the nan-bearing file must prune under an upper-bounded window " +
        s"(decoded=$decoded2 includes no B rows)")
    // metadata min/max refuses while ANY file holds a NaN (max IS NaN)
    val g1 = spark.sql(s"SELECT max(x) AS mx FROM $cat.t")
    assert(java.lang.Double.isNaN(g1.head.getDouble(0)))
    assert(!g1.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // -0.0 equals 0.0 in Spark: a file stamped from -0.0 rows must keep
    // an x = 0.0 probe, and min/max over a ±0 bound refuses to the scan
    spark.sql(s"DROP TABLE IF EXISTS $cat.z")
    spark.sql(s"CREATE TABLE $cat.z (k BIGINT, x DOUBLE)")
    spark.range(4L).select(col("id").as("k"),
      when(col("id") % 2 === 0, lit(-0.0d)).otherwise(lit(0.0d)).as("x"))
      .createOrReplaceTempView("r16_fl_z")
    spark.sql(s"INSERT INTO $cat.z SELECT k, x FROM r16_fl_z")
    assert(spark.sql(s"SELECT count(*) FROM $cat.z WHERE x = 0.0")
      .head.getLong(0) === 4L, "-0.0 rows equal 0.0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.z WHERE x < 0.0")
      .head.getLong(0) === 0L)
    val gz = spark.sql(s"SELECT min(x) AS mn FROM $cat.z")
    assert(gz.head.getDouble(0) === 0.0d)
    assert(!gz.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a ±0 bound is ambiguous post-normalization and must refuse")
    // a NaN-free positive-range table serves min/max from the manifest
    spark.sql(s"DROP TABLE IF EXISTS $cat.c")
    spark.sql(s"CREATE TABLE $cat.c (k BIGINT, x DOUBLE)")
    spark.sql(s"INSERT INTO $cat.c SELECT k, x FROM r16_fl_a")
    AcidSql.resetRowGroupMetrics()
    val gc = spark.sql(s"SELECT min(x) AS mn, max(x) AS mx FROM $cat.c")
    val rc = gc.head
    assert((rc.getDouble(0), rc.getDouble(1)) === ((0.5d, 99.5d)))
    assert(AcidSql.vecRowsFooter.sum() === 0L &&
      gc.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "NaN-free float min/max must answer from the manifest")
    Seq("t", "z", "c").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $cat.$t"))
  }

  test("metadata AVG: exact sum over non-null count, overflow falls back whole") {
    val root = Scratch.fresh("r16_avg", sf)
    val cat = "r16av"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, sev BIGINT, cents BIGINT)
                 |PARTITIONED BY (sev)""".stripMargin)
    // cents NULL every 5th row: AVG skips nulls, so the fold must divide
    // by the NON-NULL count, not the row count
    spark.range(700L).select(col("id").as("k"), (col("id") % 7).as("sev"),
      when(col("id") % 5 === 0, lit(null).cast("long"))
        .otherwise(col("id") * 3).as("cents"))
      .createOrReplaceTempView("r16_av_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, sev, cents FROM r16_av_src")
    val ids = (0L until 700L).filterNot(_ % 5 == 0)
    val expAvg = ids.map(_ * 3).sum.toDouble / ids.size
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT avg(cents) AS a, count(cents) AS n FROM $cat.t")
    val r = q.head
    assert(r.getDouble(0) === expAvg && r.getLong(1) === ids.size.toLong)
    assert(AcidSql.vecRowsFooter.sum() === 0L &&
      AcidSql.rowGroupsRead.sum() === 0L,
      "the null-bearing AVG must still answer from the manifest")
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    // grouped AVG composes with the identity-partition fold
    val g = spark.sql(s"SELECT sev, avg(cents) AS a FROM $cat.t " +
      "GROUP BY sev ORDER BY sev").collect()
    val exp3 = ids.filter(_ % 7 == 3).map(_ * 3)
    assert(g(3).getDouble(1) === exp3.sum.toDouble / exp3.size)
    // a sum past 2^53 refuses the COMPLETE push (double accumulation is
    // fold-order-dependent there) — Spark then rewrites avg to sum/count
    // and the quotient stays exact through the partial push
    spark.sql(s"DROP TABLE IF EXISTS $cat.o")
    spark.sql(s"CREATE TABLE $cat.o (k BIGINT, v BIGINT)")
    spark.range(4L).select(col("id").as("k"), lit(1L << 52).as("v"))
      .createOrReplaceTempView("r16_av_big")
    spark.sql(s"INSERT INTO $cat.o SELECT k, v FROM r16_av_big")
    val q2 = spark.sql(s"SELECT avg(v) AS a FROM $cat.o")
    assert(q2.head.getDouble(0) === (1L << 52).toDouble)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"DROP TABLE IF EXISTS $cat.o")
  }

  test("runtime filtering declines under SPJ key-grouped partitioning") {
    val root = Scratch.fresh("r16_rtf_spj", sf)
    val cat = "r16rs"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.f")
    spark.sql(s"""CREATE TABLE $cat.f (k BIGINT, sev BIGINT, v BIGINT)
                 |PARTITIONED BY (sev)""".stripMargin)
    spark.range(800L).select(col("id").as("k"), (col("id") % 8).as("sev"),
      (col("id") * 2).as("v")).createOrReplaceTempView("r16_rs_src")
    spark.sql(s"INSERT INTO $cat.f SELECT k, sev, v FROM r16_rs_src")
    val dimPath = s"$root/dim"
    spark.range(8L).select(col("id").as("dsev"),
      when(col("id") === 3, lit("hot")).otherwise(lit("cold")).as("label"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("label") === "hot")
    // with v2 bucketing ON the scan reports KeyGroupedPartitioning, and
    // Spark REQUIRES runtime filtering to preserve the partition-value
    // set — the scan's guard declines the prune, the join stays exact,
    // and no "must have preserved the original partitioning" error fires
    val saved = spark.conf.get("spark.sql.sources.v2.bucketing.enabled")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val q = spark.table(s"$cat.f").join(dim, col("sev") === col("dsev"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val r = q.head
      assert(r.getLong(0) === 100L)
      assert(r.getLong(1) === (0L until 800L).filter(_ % 8 == 3).map(_ * 2).sum)
    } finally spark.conf.set("spark.sql.sources.v2.bucketing.enabled", saved)
    spark.sql(s"DROP TABLE IF EXISTS $cat.f")
  }

  test("aligned DELETE over a DV'd file takes the rewrite path with exact counts") {
    val root = Scratch.fresh("r16_deldv", sf)
    val dir = s"$root/t"
    Acid.create(spark, dir, spark.range(200L).toDF("id")
      .select(col("id").as("k"), (col("id") * 2).as("v")), "k", 2)
    spark.sql("DROP TABLE IF EXISTS r16_deldv_t")
    spark.sql(s"""CREATE TABLE r16_deldv_t (k BIGINT, v BIGINT)
                 |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    // key-level deletion vector on the upper file (key 150)
    val (nDel, _, _) = Acid.deleteWhereMor(spark, dir, col("k") === 150L,
      Some((150L, 150L)), "w")
    assert(nDel === 1L)
    // the upper file is fully inside [100, inf) by bounds, but its DV
    // means stamped rows != live rows — it must rewrite, not drop
    spark.sql("DELETE FROM r16_deldv_t WHERE k >= 100")
    val r = spark.sql("SELECT count(*), max(k) FROM r16_deldv_t").head
    assert((r.getLong(0), r.getLong(1)) === ((100L, 99L)),
      "live rows of the DV'd file delete exactly once (150 not re-counted)")
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.forall(f => f.dv.isEmpty && f.pdv.isEmpty),
      "the rewrite materializes the DV away for the deleted range")
    spark.sql("DROP TABLE IF EXISTS r16_deldv_t")
  }
}
