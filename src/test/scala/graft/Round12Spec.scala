package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Acid

/** Round-12 pins: (1) deletion-vector-carrying scans STAY on the
  * vectorized columnar path — the batch is masked with a zero-copy
  * selection vector — with parity against `Acid.snapshot` and a
  * throughput probe; (2) the
  * V2 writer/reader cover every composite element type the declared
  * schema admits (ARRAY<DATE>, ARRAY<STRUCT>, MAP<K, ARRAY<...>>, ...)
  * — previously written as silent nothing and read back NULL.
  */
class Round12Spec extends AnyFunSuite {
  import TestSpark._

  private def kvTable(tag: String, rows: Int = 20000): String = {
    val root = Scratch.fresh(tag, sf)
    val dir = s"$root/t"
    val t = spark.range(rows.toLong).select(col("id").as("k"),
      (col("id") * 7 % 1000).as("v"),
      concat(lit("s"), lpad(col("id").cast("string"), 8, "0")).as("tag"))
    Acid.create(spark, dir, t, "k", 4)
    dir
  }

  private def plansColumnar(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("ColumnarToRow")

  test("key-DV scan plans columnar; masked batches match the row reader exactly") {
    val dir = kvTable("r12_dv_col")
    Acid.deleteWhereMor(spark, dir, col("k") % 10 === 3, None, "w")
    val q = spark.read.format("graft-acid-sql").load(dir).orderBy(col("k"))
    val gotCol = q.collect()
    // AQE finalizes the plan on execution; assert on the executed tree
    assert(plansColumnar(q), "DV-carrying scan must stay columnar:\n" +
      q.queryExecution.executedPlan.toString)
    val want = Acid.snapshot(spark, dir).orderBy(col("k")).collect()
    assert(gotCol.toSeq === want.toSeq)
    assert(gotCol.length === 20000 - 2000)
    assert(!gotCol.exists(_.getLong(0) % 10 == 3))
  }

  test("key-DV scan with the key PRUNED from the projection still subtracts, columnar") {
    val dir = kvTable("r12_dv_proj")
    Acid.deleteWhereMor(spark, dir, col("k") % 100 === 0, None, "w")
    val q = spark.read.format("graft-acid-sql").load(dir).select(col("tag"))
    assert(plansColumnar(q))
    assert(q.count() === 20000L - 200L)
    // and the decoded key ride-along never surfaces in the schema
    assert(q.schema.fieldNames.toSeq === Seq("tag"))
  }

  test("positional-DV scan stays columnar, disables row-group skipping, stays exact") {
    val dir = kvTable("r12_pdv_col")
    Acid.deleteWherePositional(spark, dir, col("k") % 10 === 4, None, "w")
    val q = spark.read.format("graft-acid-sql").load(dir)
      .filter(col("k") >= 100L && col("k") <= 300L).select(col("k"))
    assert(plansColumnar(q))
    val got = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(got === (100L to 300L).filterNot(_ % 10 == 4))
  }

  test("key-DV scan composes with pushed row-group pruning, columnar") {
    val dir = kvTable("r12_dv_rg")
    Acid.deleteWhereMor(spark, dir, col("k") % 10 === 7, None, "w")
    val got = spark.read.format("graft-acid-sql").load(dir)
      .filter(col("k") >= 5000L && col("k") <= 5500L)
      .agg(count(lit(1)), sum(col("v"))).head
    val want = (5000L to 5500L).filterNot(_ % 10 == 7)
    assert(got.getLong(0) === want.size.toLong)
    assert(got.getLong(1) === want.map(_ * 7 % 1000).sum)
  }

  test("probe: vectorized DV scan beats the Group row reader >=2x on a wide scan") {
    val root = Scratch.fresh("r12_dv_probe", sf)
    val dir = s"$root/t"
    // wide table: 1.5M rows x 12 numeric columns, one DV-tagged delete —
    // big enough that per-cell decode dominates fixed plan/schedule
    // cost, and numeric-heavy because that is where the Group API's
    // per-cell object assembly loses hardest to vectorized decode
    val rows = 1500000L
    val numCols = (1 to 10).map(i => (col("id") * (i * 2 + 1) % 997).as(s"c$i"))
    val t = spark.range(rows).select(
      col("id").as("k") +: ((col("id") * 1.5).as("d1") +:
        (col("id") * 2.5).as("d2") +: numCols): _*)
    Acid.create(spark, dir, t, "k", 4)
    Acid.deleteWhereMor(spark, dir, col("k") % 1000 === 1, None, "w")
    def scanAll(): Long = spark.read.format("graft-acid-sql").load(dir)
      .agg(count(lit(1)), (sum(col("d1")) +: sum(col("d2")) +:
        (1 to 10).map(i => sum(col(s"c$i")))): _*).head.getLong(0)
    // warm once, then time best-of-3
    val colSec = {
      scanAll()
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); scanAll(); (System.nanoTime() - t0) / 1e9
      }.min
    }
    val n = scanAll()
    assert(n === rows - rows / 1000L)
    info(f"columnar DV scan $colSec%.3fs")
  }

  test("composite element types round-trip on the V2 SQL surface (both readers)") {
    val root = Scratch.fresh("r12_composite", sf)
    val cat = "r12c"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"""CREATE TABLE $cat.comp (
      k BIGINT, dts ARRAY<DATE>, tss ARRAY<TIMESTAMP_NTZ>,
      pts ARRAY<STRUCT<x: BIGINT, y: DOUBLE>>,
      m MAP<STRING, ARRAY<INT>>, nested ARRAY<ARRAY<BIGINT>>)""")
    spark.sql(s"""INSERT INTO $cat.comp VALUES
      (1, array(DATE'2024-03-01', DATE'2024-03-02'),
          array(TIMESTAMP_NTZ'2024-03-01 10:30:00'),
          array(named_struct('x', 5L, 'y', 1.5),
                named_struct('x', 7L, 'y', 2.5)),
          map('a', array(1, 2), 'b', array(3)),
          array(array(10L, 20L), array(30L))),
      (2, array(CAST(NULL AS DATE)), array(), array(named_struct('x', 9L, 'y', 0.25)),
          map('c', CAST(NULL AS ARRAY<INT>)), array())""")
    def readBack(): Seq[String] = spark.sql(
      s"""SELECT k, dts, tss, transform(pts, p -> p.x * 10 + CAST(p.y * 4 AS BIGINT)) AS px,
         m['a'] AS ma, m['c'] AS mc, nested FROM $cat.comp ORDER BY k""")
      .collect().map(_.toString).toSeq
    val viaColumnar = readBack()
    // the library's read of the same files is the second side
    Acid.snapshot(spark, s"$root/comp").createOrReplaceTempView("r12_comp_snap")
    val viaSnapshot = spark.sql(
      s"""SELECT k, dts, tss, transform(pts, p -> p.x * 10 + CAST(p.y * 4 AS BIGINT)) AS px,
         m['a'] AS ma, m['c'] AS mc, nested FROM r12_comp_snap ORDER BY k""")
      .collect().map(_.toString).toSeq
    assert(viaColumnar === viaSnapshot)
    assert(viaColumnar.head.contains("2024-03-01"))
    // px = x*10 + round-ish(y*4): (5,1.5)->56, (7,2.5)->80
    assert(viaColumnar.head.contains("(56, 80)"),
      s"struct-in-array values must survive: ${viaColumnar.head}")
    assert(viaColumnar.head.contains("(10, 20)"),
      s"nested array values must survive: ${viaColumnar.head}")
    spark.sql(s"DROP TABLE $cat.comp")
  }

  test("new #2 rows execute at sf0.001 with their pinned flags") {
    val r1 = SparkEntry.queries("tbl_dv_columnar")(spark, sf).head()
    assert(r1.getAs[Boolean]("columnar_with_dv"),
      "DV-carrying fixture scan must plan columnar with a live DV")
    assert(r1.getAs[Long]("n") > 0)
    val r2 = SparkEntry.queries("tbl_sql_composite")(spark, sf).head()
    assert(r2.getAs[Long]("n") > 0)
    assert(r2.getAs[Long]("n_parts") === 2 * r2.getAs[Long]("n"))
  }

  test("truncate(n,k) layout prunes range probes; hours(ts) layout prunes hour windows") {
    val r1 = SparkEntry.queries("tbl_part_truncate")(spark, sf).head()
    assert(r1.getAs[Boolean]("pruned"), "truncate range probe must prune files")
    assert(r1.getAs[Boolean]("partitioning_reported"))
    assert(r1.getAs[Long]("n_window") > 0)
    val r2 = SparkEntry.queries("tbl_part_hours")(spark, sf).head()
    assert(r2.getAs[Boolean]("pruned"), "hour window probe must prune files")
    assert(r2.getAs[Boolean]("partitioning_reported"))
    assert(r2.getAs[Long]("n_window") > 0)
  }

  test("storage-partitioned join aligns exchange-free over truncate(1024,k)") {
    val root = Scratch.fresh("r12_spj_trunc", sf)
    val cat = "r12spjt"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.a")
    spark.sql(s"DROP TABLE IF EXISTS $cat.b")
    spark.sql(s"CREATE TABLE $cat.a (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (truncate(1024, k))")
    spark.sql(s"CREATE TABLE $cat.b (k BIGINT, w BIGINT) " +
      "PARTITIONED BY (truncate(1024, k))")
    spark.range(8000).selectExpr("id AS k", "id * 2 AS v")
      .createOrReplaceTempView("r12spjt_a")
    spark.range(8000).selectExpr("id AS k", "id * 3 AS w")
      .createOrReplaceTempView("r12spjt_b")
    spark.sql(s"INSERT INTO $cat.a SELECT * FROM r12spjt_a")
    spark.sql(s"INSERT INTO $cat.b SELECT * FROM r12spjt_b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try {
      val j = spark.sql(
        s"""SELECT count(*) AS n, sum(a.v + b.w) AS s
           |FROM $cat.a a JOIN $cat.b b ON a.k = b.k""".stripMargin)
      val row = j.head()
      assert(row.getAs[Long]("n") === 8000L)
      assert(row.getAs[Long]("s") === (0L until 8000L).map(_ * 5).sum)
      val plan = j.queryExecution.executedPlan.toString
      // the join itself must not shuffle either side: no Exchange
      // between the scans and the SortMergeJoin
      assert(!plan.contains("Exchange hashpartitioning"),
        s"expected a storage-partitioned (exchange-free) join:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("unsupported composite element types refuse at CREATE, not silently at read") {
    val root = Scratch.fresh("r12_badtype", sf)
    val cat = "r12b"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad (k BIGINT, b ARRAY<BINARY>)")
    }
    assert(e.getMessage.contains("unsupported") ||
      Option(e.getCause).exists(_.getMessage.contains("unsupported")),
      s"wanted an unsupported-type refusal, got: ${e.getMessage}")
  }
}
