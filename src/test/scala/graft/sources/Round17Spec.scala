package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}

/** Round-17 pins.
  *
  * First family: the fstats NaN-literal hole (round-16 ADVICE, medium).
  * A conjunct whose literal is NaN (`x = NaN`, `x <= NaN`, `x IN (NaN)`)
  * is TRUE for NaN rows under Spark semantics — NaN equals NaN and
  * orders above every value — yet `fltDecode` refuses the literal, so
  * before the fix it silently dropped out of the sortable-bits envelope
  * and pruning ran on the REMAINING conjuncts: `x = NaN AND x >= 0`
  * produced nanPossible=false with lo=enc(0.0), and a nan-bearing file
  * whose finite bounds were all negative was pruned — its matching NaN
  * rows lost (wrong rows, not just a weak plan). The fix skips fstats
  * pruning for any column whose conjunction carries an undecodable
  * literal, in both the V2 scan tier and the V1 relation tier.
  */
class Round17Spec extends AnyFunSuite {
  import TestSpark._

  test("fstats pruning: NaN literal disables the column's pruning (V2 + V1)") {
    import spark.implicits._
    val root = Scratch.fresh("r17_nanlit", sf)
    val cat = "r17nl"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, x DOUBLE)")
    // file A: finite bounds all NEGATIVE, plus NaN every 10th row — the
    // exact shape the pre-fix prune dropped under `x = NaN AND x >= 0`
    spark.range(100L).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(Double.NaN))
        .otherwise(-lit(100.5d) + col("id")).as("x"))
      .createOrReplaceTempView("r17_nl_a")
    spark.sql(s"INSERT INTO $cat.t SELECT k, x FROM r17_nl_a")
    // file B: NaN-free, positive bounds
    spark.range(100L).select((col("id") + 100L).as("k"),
      (col("id") + lit(0.5d)).as("x"))
      .createOrReplaceTempView("r17_nl_b")
    spark.sql(s"INSERT INTO $cat.t SELECT k, x FROM r17_nl_b")
    // NaN = NaN holds and NaN >= 0.0 holds: the 10 NaN rows of file A
    // match even though A's finite bounds sit entirely below zero
    val q = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t WHERE x = double('NaN') AND x >= 0.0")
    assert(q.head.getLong(0) === 10L,
      "NaN rows must survive a NaN-literal conjunction over the V2 scan")
    // IN with a NaN member takes the same hole through the probe collector
    val q2 = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t WHERE x IN (double('NaN')) AND x >= 0.0")
    assert(q2.head.getLong(0) === 10L)
    // an upper bound with a NaN literal (`x <= NaN` is true for ALL rows
    // incl. NaN — NaN orders above everything) must not prune by bounds
    val q3 = spark.sql(
      s"SELECT count(*) AS n FROM $cat.t WHERE x <= double('NaN')")
    assert(q3.head.getLong(0) === 200L)
    // NaN-free conjunctions keep pruning exactly as before
    AcidSql.resetRowGroupMetrics()
    val q4 = spark.sql(s"SELECT count(*) AS n FROM $cat.t WHERE x > 50.0 AND x < 60.0")
    assert(q4.head.getLong(0) === 10L)
    assert(AcidSql.vecRowsFooter.sum() <= 100L,
      "NaN-free window must still prune the out-of-range file")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")

    // V1 relation tier: same fixture via the library path
    val dir = s"$root/v1"
    Acid.create(spark, dir,
      (0L until 200L).map(k =>
        (k, if (k < 100L) { if (k % 10 == 0) Double.NaN else k - 100.5 }
            else k - 99.5)).toDF("k", "x"),
      "k", 2)
    val v1 = spark.read.format("graft-acid").load(dir)
    assert(v1.filter(col("x") === Double.NaN && col("x") >= 0.0).count() === 10L,
      "NaN rows must survive a NaN-literal conjunction over the V1 relation")
    assert(AcidRelation.lastScanFor(dir)._1 === 2,
      "the NaN-literal column must not prune any file on V1")
  }

  /** Second family: per-file DV row-count stamps (r16 verdict missing
    * #2). At DV commit time the writer knows exactly how many of EACH
    * file's rows the sidecar deletes — it attributes every deleted
    * key/position to its file and stamps `dvRows` (V: tag) per entry.
    * Metadata counting then subtracts per file instead of the old
    * snapshot-wide `anyDv` refusal; value folds (min/max/SUM/AVG) still
    * refuse on any vector-bearing counting file (the deleted rows may
    * have held the extreme/summed values); absent stamps (pre-r17
    * manifests) refuse counting too — absent never means zero.
    */
  test("per-file DV stamps: counting subtracts, groups drop when emptied, value folds refuse") {
    val root = Scratch.fresh("r17_dvstamp", sf)
    val cat = "r17dv"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, sev BIGINT, v BIGINT, tag STRING)
                 |PARTITIONED BY (sev)""".stripMargin)
    spark.range(800L).select(col("id").as("k"), (col("id") % 8).as("sev"),
      (col("id") * 3).as("v"),
      when(col("id") % 5 === 0, lit(null)).otherwise(lit("x")).as("tag"))
      .createOrReplaceTempView("r17_dv_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, sev, v, tag FROM r17_dv_src")
    val dir = s"$root/t"
    // one MoR delete emptying partition sev=3 entirely, a second folding
    // into it deleting one row of sev=4 — repeated deletes must keep the
    // per-file stamps exact through the sidecar fold
    Acid.deleteWhereMor(spark, dir, col("sev") === 3L, None, "w"): Unit
    Acid.deleteWhereMor(spark, dir, col("k") === 12L, None, "w"): Unit
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.forall(f => f.dv.nonEmpty && f.dvRows.isDefined),
      "every touched entry must stamp its per-file deleted count")
    assert(m.files.flatMap(_.dvRows).sum === 101L,
      s"stamps must attribute all 101 deletions: ${m.files.map(_.dvRows)}")
    // count(*) answers from the manifest by per-file subtraction
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT count(*) AS n FROM $cat.t")
    assert(q.head.getLong(0) === 699L)
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate") &&
      AcidSql.vecRowsFooter.sum() === 0L,
      "count(*) must answer from the per-file stamps with zero opens")
    // count(zero-null col): every deleted row was non-null -> subtract
    val qv = spark.sql(s"SELECT count(v) AS n FROM $cat.t")
    assert(qv.head.getLong(0) === 699L)
    assert(qv.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "count(col) with zero stamped nulls subtracts the per-file count")
    // count(null-bearing col): the deletions' null/non-null split is
    // unknowable from metadata -> refuse, scan stays exact
    val expTag = (0L until 800L).count(k => k % 5 != 0 && k % 8 != 3 && k != 12)
    val qt = spark.sql(s"SELECT count(tag) AS n FROM $cat.t")
    assert(qt.head.getLong(0) === expTag.toLong)
    assert(!qt.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "count(null-bearing col) must refuse under a DV")
    // identity-partition GROUP BY: per-group counts subtract; the
    // fully-deleted sev=3 group must NOT surface a row
    val qg = spark.sql(s"SELECT sev, count(*) AS n FROM $cat.t GROUP BY sev ORDER BY sev")
    val rows = qg.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows === Seq((0L, 100L), (1L, 100L), (2L, 100L), (4L, 99L),
      (5L, 100L), (6L, 100L), (7L, 100L)),
      s"grouped counts must subtract per file and drop the emptied group: $rows")
    assert(qg.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "the grouped fold must still answer from the manifest under stamps")
    // value folds refuse on vector-bearing files — stale extremes/sums
    // must never surface (k=12's v=36 was NOT the extreme; sev=3 held
    // global min candidates k=3 -> the scan must serve post-delete)
    for (sqlTxt <- Seq(s"SELECT min(k) AS x FROM $cat.t",
      s"SELECT sum(v) AS x FROM $cat.t", s"SELECT avg(v) AS x FROM $cat.t")) {
      val qq = spark.sql(sqlTxt)
      assert(!qq.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
        s"value fold must refuse under DVs: $sqlTxt")
    }
    assert(spark.sql(s"SELECT min(k) AS x FROM $cat.t").head.getLong(0) === 0L)
    assert(spark.sql(s"SELECT sum(v) AS x FROM $cat.t").head.getLong(0) ===
      (0L until 800L).filter(k => k % 8 != 3 && k != 12).map(_ * 3).sum)
    // pre-r17 manifests carry vectors WITHOUT stamps: absent never means
    // zero — counting must refuse back to the (exact) scan. Simulated by
    // stripping the V: tags from the live log text.
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    import scala.jdk.CollectionConverters._
    val logDir = JPaths.get(dir, "_log")
    JFiles.list(logDir).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".txt")).foreach { p =>
        val txt = new String(JFiles.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8)
        JFiles.write(p, txt.replaceAll("\\|V:[0-9]+", "")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)): Unit
      }
    Acid.clearManifestCache()
    val mLegacy = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(mLegacy.files.forall(f => f.dv.nonEmpty && f.dvRows.isEmpty),
      "the legacy simulation must leave vectors unstamped")
    val qLegacy = spark.sql(s"SELECT count(*) AS n FROM $cat.t")
    assert(qLegacy.head.getLong(0) === 699L)
    assert(!qLegacy.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "an unstamped vector (pre-r17 manifest) must refuse metadata counting")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")

    // positional vectors stamp per file too (the sidecar names its files)
    import spark.implicits._
    val dir2 = s"$root/p"
    Acid.create(spark, dir2,
      spark.range(400L).select(col("id").as("k"), (col("id") % 10).as("g")),
      "k", 4)
    Acid.deleteWherePositional(spark, dir2, col("g") === 7L, None, "w"): Unit
    val m2 = Acid.readManifest(dir2, Acid.latestVersion(dir2))
    assert(m2.files.forall(f => f.pdv.nonEmpty && f.dvRows.isDefined))
    assert(m2.files.flatMap(_.dvRows).sum === 40L)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing_refresh")
    AcidSql.resetRowGroupMetrics()
    val qp = spark.sql(s"SELECT count(*) AS n FROM $cat.p")
    assert(qp.head.getLong(0) === 360L)
    assert(qp.queryExecution.executedPlan.toString.contains("manifest-aggregate") &&
      AcidSql.vecRowsFooter.sum() === 0L,
      "positional per-file stamps must serve the metadata count")
    spark.sql(s"DROP TABLE IF EXISTS $cat.p")
  }

  /** Third family: STRING identity partitions (r16 verdict missing #3).
    * `PARTITIONED BY (lang)` over a STRING column stores the identstr
    * flavor: segment rolling and monotone range stamps ride the packed-
    * prefix long domain (8-byte grain), while the GROUP BY fold and the
    * runtime string filter consume the files' EXACT cstats bounds —
    * min == max with both exactness bits IS the value, proven per file.
    * SPJ declines (the packed cell is not the identity value), exact
    * claims refuse (partCellRange = None), and a null-bearing file
    * refuses the fold (its rows belong partly to the NULL group).
    */
  test("string identity partitions: manifest GROUP BY, static + runtime pruning") {
    val root = Scratch.fresh("r17_langpart", sf)
    val cat = "r17lg"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"""CREATE TABLE $cat.t (k BIGINT, lang STRING, v BIGINT)
                 |PARTITIONED BY (lang)""".stripMargin)
    val langs = Seq("de", "en", "fr", "ja", "pt", "zh")
    spark.range(600L).select(col("id").as("k"),
      element_at(typedLit(langs), (col("id") % 6 + 1).cast("int")).as("lang"),
      (col("id") * 7).as("v"))
      .createOrReplaceTempView("r17_lg_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, lang, v FROM r17_lg_src")
    val dir = s"$root/t"
    // every rolled segment is single-valued with EXACT cstats + a zero
    // null stamp — the fold's whole evidence chain
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.nonEmpty)
    m.files.foreach { f =>
      val cs = f.cstats.find(_._1 == "lang").getOrElse(
        fail(s"identstr source must stamp cstats: ${f.path}"))
      assert(cs._2 === cs._3, s"segment must be single-valued: $cs")
      val ex = f.cexact.find(_._1 == "lang").get
      assert(ex._2 && ex._3)
      assert(f.nulls.contains(("lang", 0L)))
    }
    // GROUP BY lang answers from the manifest with zero opens
    AcidSql.resetRowGroupMetrics()
    val qg = spark.sql(
      s"SELECT lang, count(*) AS n FROM $cat.t GROUP BY lang ORDER BY lang")
    assert(qg.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ===
      langs.map(_ -> 100L))
    assert(qg.queryExecution.executedPlan.toString.contains("manifest-aggregate") &&
      AcidSql.vecRowsFooter.sum() === 0L,
      "GROUP BY lang must fold from the manifest")
    // SELECT DISTINCT rides the same push; per-group key folds compose
    val qd = spark.sql(s"SELECT DISTINCT lang FROM $cat.t")
    assert(qd.collect().map(_.getString(0)).sorted === langs)
    assert(qd.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    val qk = spark.sql(s"SELECT lang, count(*) AS n, min(k) AS lo FROM $cat.t " +
      "GROUP BY lang ORDER BY lang")
    assert(qk.queryExecution.executedPlan.toString.contains("manifest-aggregate"))
    assert(qk.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      === langs.zipWithIndex.map { case (l, i) => (l, 100L, i.toLong) })
    // static pruning: an equality on lang reads only that partition
    AcidSql.resetRowGroupMetrics()
    assert(spark.sql(s"SELECT sum(v) AS s FROM $cat.t WHERE lang = 'ja'")
      .head.getLong(0) === (0L until 600L).filter(_ % 6 == 3).map(_ * 7).sum)
    val decodedStatic = AcidSql.vecRowsFooter.sum()
    assert(decodedStatic <= 100L,
      s"lang equality must prune to one partition: $decodedStatic")
    // runtime pruning: a join's string dim side prunes fact files at
    // execution through the cstats envelope probe
    spark.sql("DROP TABLE IF EXISTS r17_lg_fact")
    spark.sql(s"""CREATE TABLE r17_lg_fact (k BIGINT, lang STRING, v BIGINT)
                 |USING `graft-acid-sql` OPTIONS (path '$dir')""".stripMargin)
    val dimPath = s"$root/dim"
    spark.range(6L).select(
      element_at(typedLit(langs), (col("id") + 1).cast("int")).as(  "dl"),
      when(element_at(typedLit(langs), (col("id") + 1).cast("int")) === "pt",
        lit("hot")).otherwise(lit("cold")).as("label"))
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("label") === "hot")
    AcidSql.resetRowGroupMetrics()
    val qj = spark.table("r17_lg_fact")
      .join(dim, col("lang") === col("dl"))
      .agg(count(lit(1)).as("n"))
    assert(qj.head.getLong(0) === 100L)
    assert(qj.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      "the join must inject a runtime IN filter on the string dim key")
    val decoded = AcidSql.vecRowsFooter.sum()
    assert(decoded > 0 && decoded <= 100L,
      s"string runtime pruning must read only the matching partition: $decoded")
    // NULL lang rows: the null segment refuses the fold; scans stay exact
    spark.sql(s"DROP TABLE IF EXISTS $cat.nl")
    spark.sql(s"""CREATE TABLE $cat.nl (k BIGINT, lang STRING)
                 |PARTITIONED BY (lang)""".stripMargin)
    spark.range(100L).select(col("id").as("k"),
      when(col("id") % 10 === 0, lit(null))
        .otherwise(lit("en")).as("lang"))
      .createOrReplaceTempView("r17_lg_nl")
    spark.sql(s"INSERT INTO $cat.nl SELECT k, lang FROM r17_lg_nl")
    val qnl = spark.sql(s"SELECT lang, count(*) AS n FROM $cat.nl GROUP BY lang")
    val rows = qnl.collect().map(r => (Option(r.getString(0)), r.getLong(1))).toSet
    assert(rows === Set((Some("en"), 90L), (None, 10L)))
    assert(!qnl.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a null-bearing segment must refuse the manifest fold")
    spark.sql("DROP TABLE IF EXISTS r17_lg_fact")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"DROP TABLE IF EXISTS $cat.nl")
  }

  /** Fourth family: OR-of-disjoint-intervals in the exact decoders (r16
    * verdict missing #4). `exactCellsWith` decodes a pushed predicate to
    * a union of DISJOINT SORTED closed intervals — each Or branch must
    * decode as exactly one interval, conjunctions intersect pairwise,
    * normalization merges overlap/adjacency, >8 cells refuse. The
    * aligned DELETE consumes it, so the retention-window COMPLEMENT
    * (`dt < lo OR dt >= hi` — "keep only the window") drops both
    * flanks metadata-only.
    */
  test("exactCellsWith decode laws: branches, intersection, merge, refusals") {
    import org.apache.spark.sql.sources._
    def dec: Any => Option[Long] = {
      case l: Long => Some(l); case i: Int => Some(i.toLong); case _ => None
    }
    def cells(fs: Filter*): Option[Seq[(Long, Long)]] =
      AcidSql.exactCellsWith(fs.toSeq, "c", dec)
    // a single interval is one cell; IsNotNull absorbs
    assert(cells(GreaterThanOrEqual("c", 5L), LessThan("c", 10L),
      IsNotNull("c")) === Some(Seq((5L, 9L))))
    // the retention complement: two disjoint flanks
    assert(cells(Or(LessThan("c", 100L), GreaterThanOrEqual("c", 200L))) ===
      Some(Seq((Long.MinValue, 99L), (200L, Long.MaxValue))))
    // overlapping branches merge to one cell; adjacency merges too
    assert(cells(Or(LessThanOrEqual("c", 150L), GreaterThanOrEqual("c", 100L)))
      === Some(Seq((Long.MinValue, Long.MaxValue))))
    assert(cells(Or(EqualTo("c", 7L), EqualTo("c", 8L))) === Some(Seq((7L, 8L))))
    // a conjunction of unions intersects pairwise
    assert(cells(
      Or(LessThan("c", 100L), GreaterThanOrEqual("c", 200L)),
      And(GreaterThanOrEqual("c", 50L), LessThan("c", 250L))) ===
      Some(Seq((50L, 99L), (200L, 249L))))
    // empty result = provably-empty predicate (kept, not refused)
    assert(cells(LessThan("c", 10L), GreaterThan("c", 20L)) ===
      Some(Seq.empty))
    // refusals: In inside a branch, Not, foreign column, >8 cells
    assert(cells(Or(In("c", Array(1L, 2L)), GreaterThan("c", 10L))).isEmpty)
    assert(cells(Not(EqualTo("c", 1L))).isEmpty)
    assert(cells(Or(EqualTo("c", 1L), EqualTo("d", 2L))).isEmpty)
    val nine = (0 until 9).map(i => EqualTo("c", i * 10L): Filter)
      .reduceLeft[Filter]((a, b) => Or(a, b))
    assert(cells(nine).isEmpty, "9 disjoint cells exceed the cap")
    val eight = (0 until 8).map(i => EqualTo("c", i * 10L): Filter)
      .reduceLeft[Filter]((a, b) => Or(a, b))
    assert(cells(eight).map(_.size) === Some(8))
  }

  test("retention-complement DELETE drops both flanks metadata-only") {
    val root = Scratch.fresh("r17_delcomp", sf)
    val cat = "r17dc"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    // 10 epoch-days x 100 rows, day = id/100
    spark.range(1000L).select(col("id").as("k"),
      timestamp_seconds((col("id") / 100).cast("long") * 86400L +
        (col("id") % 100) * 864L).as("ts"),
      (col("id") * 3).as("v"))
      .createOrReplaceTempView("r17_dc_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT k, ts, v FROM r17_dc_src")
    val dir = s"$root/ev"
    val v0 = Acid.latestVersion(dir)
    val files0 = Acid.readManifest(dir, v0).files.map(_.path).toSet
    // keep only days 3..6: both flanks are day-aligned and drop whole
    spark.sql(s"DELETE FROM $cat.ev WHERE " +
      "ts < TIMESTAMP'1970-01-04 00:00:00' OR " +
      "ts >= TIMESTAMP'1970-01-08 00:00:00'")
    val v1 = Acid.latestVersion(dir)
    assert(v1 === v0 + 1, "the complement delete must be one commit")
    val m1 = Acid.readManifest(dir, v1)
    assert(m1.files.map(_.path).toSet.subsetOf(files0),
      "both flanks must drop metadata-only: no rewritten file")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, s"d${v1}_sqldel")),
      "no data directory may be written for a metadata-only delete")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) === 400L)
    val mm = spark.sql(s"SELECT min(k) AS lo, max(k) AS hi FROM $cat.ev").head
    assert((mm.getLong(0), mm.getLong(1)) === ((300L, 699L)))
    // a complement with one straddling flank rewrites ONLY the straddler
    val files1 = m1.files.map(_.path).toSet
    spark.sql(s"DELETE FROM $cat.ev WHERE " +
      "ts < TIMESTAMP'1970-01-05 00:00:00' OR " +
      "ts >= TIMESTAMP'1970-01-07 12:00:00'")
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val rewritten = m2.files.map(_.path).toSet -- files1
    assert(rewritten.nonEmpty && rewritten.forall(_.startsWith(
      s"d${v1 + 1}_sqldel")), "only the straddling day may rewrite")
    assert(spark.sql(s"SELECT count(*) FROM $cat.ev").head.getLong(0) === 250L)
    assert(spark.sql(s"SELECT min(k) FROM $cat.ev").head.getLong(0) === 400L)
    assert(spark.sql(s"SELECT max(k) FROM $cat.ev").head.getLong(0) === 649L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
  }

  /** Fifth family: versioned column mapping (r16 verdict missing #5,
    * the structural unlock for DEFAULT/type changes later). Every commit
    * stamps the live logical → physical map into its manifest header
    * (7th field, "@"+b64; absent = pre-r17 = legacy fall-back to the
    * version-less sidecar), and RENAME COLUMN itself commits an ALTER
    * version carrying the new map — so `VERSION AS OF` a pre-rename
    * version reads the OLD logical names (the Delta metadata-action
    * semantic) while latest reads the new ones.
    */
  test("time travel across RENAME COLUMN reads the old logical names") {
    val root = Scratch.fresh("r17_vrename", sf)
    val cat = "r17vr"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, amount BIGINT)")
    spark.range(100L).select(col("id").as("k"), (col("id") * 2).as("amount"))
      .createOrReplaceTempView("r17_vr_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, amount FROM r17_vr_src")
    val dir = s"$root/t"
    val vPre = Acid.latestVersion(dir)
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN amount TO total")
    val vAlter = Acid.latestVersion(dir)
    assert(vAlter === vPre + 1, "the rename must commit an ALTER version")
    assert(Acid.readManifest(dir, vAlter).op === "ALTER")
    // latest reads the NEW name; the pinned pre-rename version the OLD
    assert(spark.sql(s"SELECT sum(total) FROM $cat.t").head.getLong(0) === 9900L)
    val old = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vPre")
    assert(old.columns.toSeq === Seq("k", "amount"),
      s"pre-rename version must read the OLD logical names: ${old.columns.toSeq}")
    assert(spark.sql(
      s"SELECT sum(amount) FROM $cat.t VERSION AS OF $vPre").head.getLong(0)
      === 9900L)
    // filters push under the OLD name on the pinned scan
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $vPre " +
      "WHERE amount >= 100").head.getLong(0) === 50L)
    // data committed AFTER the rename still time-travels consistently:
    // the new version records the new map
    spark.sql(s"INSERT INTO $cat.t SELECT k + 100, (k + 100) * 2 FROM r17_vr_src")
    val vPost = Acid.latestVersion(dir)
    val post = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vPost")
    assert(post.columns.toSeq === Seq("k", "total"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) === 200L)
    // the library surface agrees on both pins
    assert(Acid.snapshot(spark, dir, vPre).columns.toSeq === Seq("k", "amount"))
    assert(Acid.snapshot(spark, dir).columns.toSeq === Seq("k", "total"))
    // a second rename: three name epochs, each version pinned to its own
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN total TO cents")
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vPre").columns.toSeq
      === Seq("k", "amount"))
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vPost").columns.toSeq
      === Seq("k", "total"))
    assert(Acid.snapshot(spark, dir).columns.toSeq === Seq("k", "cents"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("time travel across DROP COLUMN surfaces the old column with its values") {
    val root = Scratch.fresh("r17_vdrop", sf)
    val cat = "r17vd"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, score BIGINT, note STRING)")
    spark.range(50L).select(col("id").as("k"), (col("id") * 5).as("score"),
      concat(lit("n"), col("id")).as("note"))
      .createOrReplaceTempView("r17_vd_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, score, note FROM r17_vd_src")
    val dir = s"$root/t"
    val vPre = Acid.latestVersion(dir)
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN score")
    assert(Acid.latestVersion(dir) === vPre + 1,
      "the drop must commit an ALTER version")
    assert(Acid.readManifest(dir, vPre + 1).op === "ALTER")
    // latest hides the column; the pinned pre-drop version serves it
    assert(spark.sql(s"SELECT * FROM $cat.t").columns.toSeq ===
      Seq("k", "note"))
    val old = spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vPre")
    assert(old.columns.toSeq === Seq("k", "score", "note"),
      s"pre-drop version must surface the dropped column: ${old.columns.toSeq}")
    assert(spark.sql(
      s"SELECT sum(score) FROM $cat.t VERSION AS OF $vPre").head.getLong(0)
      === (0L until 50L).map(_ * 5).sum)
    // re-ADD the name: fresh physical, NULLs at latest — and the pinned
    // pre-drop version still reads the ORIGINAL values, never the nulls
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score BIGINT")
    assert(spark.sql(s"SELECT count(score) FROM $cat.t").head.getLong(0) === 0L,
      "re-added column must read NULL, never the dead bytes")
    assert(spark.sql(
      s"SELECT sum(score) FROM $cat.t VERSION AS OF $vPre").head.getLong(0)
      === (0L until 50L).map(_ * 5).sum,
      "the pre-drop pin must keep serving the original values")
    assert(Acid.snapshot(spark, dir, vPre).columns.toSeq ===
      Seq("k", "score", "note"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("OR-window filtered aggregates claim and answer from the manifest") {
    val root = Scratch.fresh("r17_orclaim", sf)
    val cat = "r17oc"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    spark.range(1000L).select(col("id").as("k"),
      timestamp_seconds((col("id") / 100).cast("long") * 86400L +
        (col("id") % 100) * 864L).as("ts"),
      (col("id") * 3).as("v"))
      .createOrReplaceTempView("r17_oc_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT k, ts, v FROM r17_oc_src")
    // both flanks day-aligned: the OR window claims exactly and the
    // aggregate answers from the manifest with zero opens
    val win = "ts < TIMESTAMP'1970-01-03 00:00:00' OR " +
      "ts >= TIMESTAMP'1970-01-09 00:00:00'"
    AcidSql.resetRowGroupMetrics()
    val q = spark.sql(s"SELECT count(*) AS n, min(k) AS lo, max(k) AS hi " +
      s"FROM $cat.ev WHERE $win")
    val r = q.head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) === ((400L, 0L, 999L)))
    assert(q.queryExecution.executedPlan.toString.contains("manifest-aggregate") &&
      AcidSql.vecRowsFooter.sum() === 0L,
      "a cell-aligned OR window must answer from the manifest")
    // the claimed plain scan drops the residual filter and reads only
    // the flank files
    AcidSql.resetRowGroupMetrics()
    val q2 = spark.sql(s"SELECT k FROM $cat.ev WHERE $win")
    assert(q2.collect().length === 400, "the claimed row scan stays exact")
    assert(q2.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.isEmpty, "an aligned OR window must be claimed exactly — no residual")
    assert(AcidSql.vecRowsFooter.sum() === 400L,
      "only the flank files may be read")
    // a straddling flank refuses the claim; the count stays exact
    val q3 = spark.sql(s"SELECT count(*) AS n FROM $cat.ev WHERE " +
      "ts < TIMESTAMP'1970-01-03 12:00:00' OR " +
      "ts >= TIMESTAMP'1970-01-09 00:00:00'")
    assert(q3.head.getLong(0) === 450L)
    assert(!q3.queryExecution.executedPlan.toString.contains("manifest-aggregate"),
      "a mid-cell OR boundary must refuse the metadata answer")
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
  }

  /** Sixth family: ADD COLUMN ... DEFAULT (the §6.16b recorded non-goal,
    * unlocked by this round's versioned schema work). The EXISTS default
    * fills the column for files that PREDATE it — a file not carrying
    * the column physically was written before the ALTER, and every
    * post-ALTER write includes the declared column, so stored NULLs stay
    * NULL. The CURRENT_DEFAULT SQL rides the catalog schema's field
    * metadata, where Spark's own resolver fills INSERTs that omit the
    * column. Pre-ALTER pinned versions never request the column
    * (file-derived schemas), so the default can never fabricate values
    * into old snapshots.
    */
  test("ADD COLUMN DEFAULT: old files read the default, inserts fill it, NULLs stay") {
    val root = Scratch.fresh("r17_default", sf)
    val cat = "r17df"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.range(100L).select(col("id").as("k"), (col("id") * 2).as("v"))
      .createOrReplaceTempView("r17_df_src")
    spark.sql(s"INSERT INTO $cat.t SELECT k, v FROM r17_df_src")
    val dir = s"$root/t"
    val vPre = Acid.latestVersion(dir)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN tier STRING DEFAULT 'basic'")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score BIGINT DEFAULT 7")
    // pre-ALTER rows read the defaults on the V2 scan (columnar for
    // these types) — never NULL
    val r1 = spark.sql(s"SELECT count(*) AS n FROM $cat.t " +
      "WHERE tier = 'basic' AND score = 7").head
    assert(r1.getLong(0) === 100L,
      "files that predate the columns must read the EXISTS defaults")
    assert(spark.sql(s"SELECT count(tier) FROM $cat.t").head.getLong(0) === 100L)
    // an INSERT omitting the columns gets the CURRENT default filled by
    // Spark's resolver from the schema metadata this catalog serves
    spark.sql(s"INSERT INTO $cat.t (k, v) VALUES (1000, 1), (1001, 2)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE k >= 1000 AND tier = 'basic' AND score = 7").head.getLong(0) === 2L)
    // an EXPLICIT NULL stays NULL — stored values are never overridden
    spark.sql(s"INSERT INTO $cat.t VALUES (2000, 3, NULL, NULL)")
    val r2 = spark.sql(s"SELECT tier, score FROM $cat.t WHERE k = 2000").head
    assert(r2.isNullAt(0) && r2.isNullAt(1),
      "post-ALTER stored NULLs must stay NULL (fill is per-FILE, not per-value)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE tier = 'basic'")
      .head.getLong(0) === 102L)
    assert(spark.sql(s"SELECT sum(score) FROM $cat.t").head.getLong(0) ===
      102L * 7L)
    // the library surface fills identically (footer-evidenced per file)
    val lib = Acid.snapshot(spark, dir)
    assert(lib.filter(col("tier") === "basic").count() === 102L)
    assert(lib.filter(col("k") === 2000L).head.isNullAt(2))
    // a pre-ALTER pinned version never shows the columns — the default
    // cannot fabricate values into old snapshots
    assert(spark.sql(s"SELECT * FROM $cat.t VERSION AS OF $vPre")
      .columns.toSeq === Seq("k", "v"))
    // the fill against explicit values: 100 pre-ALTER rows plus the two
    // defaulted inserts, and the explicit NULL row stays NULL
    assert(spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE tier = 'basic' AND score = 7").head.getLong(0) === 100L + 2L)
    val rr = spark.sql(s"SELECT tier FROM $cat.t WHERE k = 2000").head
    assert(rr.isNullAt(0))
    // DROP kills the default; a re-ADD without one serves NULL again
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN score")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score BIGINT")
    assert(spark.sql(s"SELECT count(score) FROM $cat.t").head.getLong(0) === 0L,
      "a re-added column without DEFAULT must read NULL everywhere")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("SET/DROP DEFAULT edit the write default; the exists default is fixed at ADD") {
    val root = Scratch.fresh("r17_setdflt", sf)
    val cat = "r17sd"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN score BIGINT DEFAULT 7")
    // SET DEFAULT changes what future INSERTs fill — never history
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN score SET DEFAULT 9")
    spark.sql(s"INSERT INTO $cat.t (k, v) VALUES (3, 30)")
    val r = spark.sql(s"SELECT k, score FROM $cat.t ORDER BY k").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r === Seq((1L, 7L), (2L, 7L), (3L, 9L)),
      "pre-ADD rows keep the ADD-time exists default; new inserts fill 9")
    // DROP DEFAULT: future omitting inserts get NULL, history unchanged
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN score DROP DEFAULT")
    spark.sql(s"INSERT INTO $cat.t (k, v) VALUES (4, 40)")
    val r2 = spark.sql(s"SELECT k, score FROM $cat.t ORDER BY k").collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSeq
    assert(r2 === Seq((1L, 7L), (2L, 7L), (3L, 9L), (4L, -1L)))
    // SET DEFAULT on a column added WITHOUT one: a CURRENT-only entry —
    // pre-existing rows correctly stay NULL
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN note STRING")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN note SET DEFAULT 'n/a'")
    spark.sql(s"INSERT INTO $cat.t (k, v) VALUES (5, 50)")
    assert(spark.sql(s"SELECT count(note) FROM $cat.t").head.getLong(0) === 1L,
      "only the post-SET insert may carry the new write default")
    assert(spark.sql(s"SELECT note FROM $cat.t WHERE k = 5").head.getString(0)
      === "n/a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("tbl_part_identstr oracle row: meta-answered lang groups, runtime-pruned join") {
    val df = graft.SparkEntry.queries("tbl_part_identstr")(spark, sf)
    val rows = df.collect()
    assert(rows.length > 1, "documents must span several languages")
    assert(rows.forall(_.getAs[Boolean]("meta_only")),
      "every lang group must answer from the manifest")
    assert(rows.forall(_.getAs[Boolean]("rt_pruned")),
      "the string dim join must runtime-prune the fact scan")
    val hot = rows.map(_.getAs[String]("lang")).min
    assert(rows.find(_.getAs[String]("lang") == hot).get.getAs[Long]("n") ===
      rows.head.getAs[Long]("rt_n"))
  }

  test("tbl_column_default oracle row: per-tier groups with filled defaults") {
    val df = graft.SparkEntry.queries("tbl_column_default")(spark, sf)
    val rows = df.collect()
    assert(rows.length === 3, s"NULL, basic and gold tiers: ${rows.toSeq}")
    val basic = rows.find(r => !r.isNullAt(0) && r.getString(0) == "basic").get
    assert(basic.getAs[Long]("bonus_sum") === basic.getAs[Long]("n") * 25L,
      "every pre-ALTER and omitted-column row must carry the defaults")
    assert(rows.exists(_.isNullAt(0)), "the explicit NULL row must survive")
    assert(rows.exists(r => !r.isNullAt(0) && r.getString(0) == "gold"))
  }

  test("tbl_schema_travel oracle row: pinned names and values across ALTERs") {
    val df = graft.SparkEntry.queries("tbl_schema_travel")(spark, sf)
    val r = df.collect()(0)
    assert(r.getAs[Boolean]("old_names") && r.getAs[Boolean]("new_names") &&
      r.getAs[Boolean]("alters_versioned"))
    assert(r.getAs[Long]("old_sum") === r.getAs[Long]("ren_sum"))
    assert(r.getAs[Long]("prio_n") > 0L)
  }

  test("tbl_agg_pushdown_dv oracle row: stamped subtraction, refused extremes") {
    val df = graft.SparkEntry.queries("tbl_agg_pushdown_dv")(spark, sf)
    val r = df.collect()(0)
    assert(r.getAs[Boolean]("meta_only") && r.getAs[Boolean]("stamped") &&
      r.getAs[Boolean]("mm_refused"))
    assert(r.getAs[Long]("n_live") < r.getAs[Long]("n_total"))
    assert(r.getAs[Long]("lo") <= r.getAs[Long]("hi"))
  }
}
