package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-5 invariants: the scale properties the round's two plan fixes
  * promise (CDC apply bounded to touched partitions; stream-stream join
  * state bounded by the watermark horizon), the bounded-memory contract of
  * the memo caches, the clean-teardown contract of the harness mains, and
  * the node-path predicate grammar.
  */
class Round5Spec extends AnyFunSuite {
  import TestSpark._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** Build a CDC snapshot table (key, cents, src, part) from orders at
    * `sfDir`, returning the table path.
    */
  private def buildCdcTable(tag: String, sfDir: String): String = {
    val base = Scratch.fresh(tag, sfDir)
    val table = s"$base/target"
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("key"),
        round(col("o_totalprice") * 100).cast("long").as("cents"),
        lit("base").as("src"))
      .withColumn("part",
        (col("key") / lit(graft.streaming.Streaming.CdcPartWidth)).cast("int"))
      .repartition(col("part"))
      .write.partitionBy("part").parquet(table)
    table
  }

  /** (path → mtime) of every data file in partition dirs other than the
    * given ones; root-level metadata (_SUCCESS) is excluded because every
    * commit rewrites it.
    */
  private def untouchedInventory(table: String, touched: Set[Int]): Map[String, Long] = {
    val w = Files.walk(Paths.get(table))
    try {
      import scala.jdk.CollectionConverters._
      w.iterator().asScala
        .filter(p => Files.isRegularFile(p))
        .filter { p =>
          val rel = Paths.get(table).relativize(p).toString
          rel.startsWith("part=") &&
            !touched.exists(t => rel.startsWith(s"part=$t/"))
        }
        .map(p => p.toString -> Files.getLastModifiedTime(p).toMillis)
        .toMap
    } finally w.close()
  }

  private def cdcSession() = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "4")
    ss.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    ss
  }

  /** A fixed 49-row batch confined to partition 0 (keys 1..49). */
  private def fixedBatch(ss: org.apache.spark.sql.SparkSession) =
    ss.range(1, 50).select(col("id").as("key"), lit(111L).as("cents"),
      lit("delta").as("src"))

  test("applyCdcBatch leaves untouched partitions byte-identical on disk") {
    // sf0.01: orderkeys are dense 0..14999, so the table spans parts 0..3
    // while the fixed batch stays inside part 0.
    val table = buildCdcTable("r5_cdc_inventory", "/root/testdata/sf0.01")
    val before = untouchedInventory(table, Set(0))
    assert(before.nonEmpty, "fixture must span more than the touched partition")
    val ss = cdcSession()
    graft.streaming.Streaming.applyCdcBatch(fixedBatch(ss), table)
    val after = untouchedInventory(table, Set(0))
    assert(after == before,
      "a partition not touched by the batch was rewritten (or dropped) by the merge")
    // and the touched partition did land the merge
    val merged = ss.read.parquet(table)
    assert(merged.filter(col("src") === "delta").count() == 49L)
    assert(merged.filter(col("part") =!= 0).filter(col("src") === "delta").count() == 0L)
  }

  test("CDC merge reads only touched partitions (partition filters reach the scan)") {
    val table = buildCdcTable("r5_cdc_prune", sf)
    val ss = cdcSession()
    val pruned = ss.read.parquet(table).filter(col("part").isin(0))
    val scan = pruned.queryExecution.executedPlan.toString()
    assert(scan.contains("PartitionFilters") && scan.contains("part"),
      s"partition filter missing from scan:\n$scan")
  }

  test("CDC per-batch apply cost tracks batch size, not table size") {
    // Identical 49-row batch against a table and its ~10x version: the
    // touched slice (partition 0) is constant-width, so apply cost must
    // not scale with the table. Generous 4x bound: both applies are
    // fixed-overhead dominated at test scale; a full-snapshot rewrite
    // regression shows up as ~10x on the big table.
    val small = buildCdcTable("r5_cdc_small", "/root/testdata/sf0.001")
    val big   = buildCdcTable("r5_cdc_big", "/root/testdata/sf0.01")
    val ss = cdcSession()
    def time(table: String): Double = {
      val t0 = System.nanoTime()
      graft.streaming.Streaming.applyCdcBatch(fixedBatch(ss), table)
      (System.nanoTime() - t0) / 1e9
    }
    time(small); time(big) // warm both paths (codegen, committer)
    val ts = time(small)
    val tb = time(big)
    info(f"per-batch apply: ${ts}%.2fs on 1x table, ${tb}%.2fs on 10x table")
    assert(tb <= ts * 4 + 0.5,
      s"apply on 10x table took ${tb}s vs ${ts}s — cost is scaling with table size")
  }

  test("st_stream_join: post-drain state is bounded by the watermark horizon") {
    run("st_stream_join").count()
    val stateRows = graft.streaming.Streaming.lastAppendStateRows
    assert(stateRows >= 0L, "no progress recorded for the join drain")
    val e = Tables.events(spark, sf)
      .filter(col("event_type").isin("view", "purchase"))
    val total = e.count()
    // Eviction theory for `v_ts >= p_ts - 1h AND v_ts <= p_ts` with 10 min
    // delay: views are droppable once v_ts + 1h < watermark, purchases once
    // p_ts < watermark. Everything older than (max ts - 70 min) must be
    // gone; add the count within the horizon as the ceiling.
    val horizon = e.crossJoin(e.agg(max(col("ts")).as("mx")))
      .filter(col("ts") >= col("mx") - expr("INTERVAL 70 MINUTES"))
      .count()
    assert(stateRows <= horizon,
      s"state rows $stateRows exceed the $horizon-row watermark horizon")
    assert(stateRows < total,
      s"state retained the whole stream ($stateRows of $total rows)")
  }

  test("Llm memo caches stay bounded and release blocks when looping many dirs") {
    val sc = spark.sparkContext
    (1 to 6).foreach { i =>
      val dir = Scratch.fresh(s"r5_memo_$i", sf)
      Files.copy(Paths.get(sf, "documents.parquet"),
        Paths.get(dir, "documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
      graft.operators.Llm.shingledDocs(spark, dir).count()
    }
    assert(graft.operators.Llm.memoSizes.forall(_ <= 4),
      s"memo exceeded its cap: ${graft.operators.Llm.memoSizes}")
    // Evicted entries released their persisted blocks eagerly: at most the
    // capped entry count of shingle tables remains registered.
    val shingleRdds = sc.getPersistentRDDs.size
    assert(shingleRdds <= 8,
      s"$shingleRdds persisted RDDs after 6-dir loop — eviction is not releasing")
  }

  test("harness teardown leaves no extra persisted blocks or fixture tables") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // snapshot BEFORE: suite ORDER is nondeterministic, so another
    // suite's fixture views may already exist — this test verifies the
    // three teardown helpers clean up what THEIR fixtures created, not
    // that no earlier suite ever registered a view
    def graftTables(): Set[String] = spark.catalog.listTables()
      .collect().map(_.name).filter(_.startsWith("graft_")).toSet
    val tablesBefore = graftTables()
    run("llm_dedup_fuzzy").count()   // populates shingle + pairs memos
    run("join_bucketed").count()     // populates the bucketed-table fixture
    run("tbl_sql_insert").count()    // registers graft_sql_insert_t + src view
    graft.operators.Llm.clearCaches()
    graft.operators.Relational.dropBucketedTables()
    graft.sources.Acid.dropSqlTables(spark)
    val after = sc.getPersistentRDDs.keySet
    assert(after.subsetOf(before),
      s"teardown left new persisted RDDs: ${after -- before}")
    val leftover = graftTables() -- tablesBefore
    assert(leftover.isEmpty,
      s"fixture tables survived teardown: $leftover")
  }

  test("node-path predicate grammar: quotes both ways, bad steps refused") {
    val dir = Scratch.fresh("r5_nodepath_gram", sf)
    Files.write(Paths.get(dir, "a.xml"),
      """<r><x k="1"><y lang='en'>A</y><y lang="fr">B</y></x><x k="2"><y lang="en">C</y></x></r>"""
        .getBytes("UTF-8"))
    val en = graft.sources.Xml.readXmlNodePath(spark, dir, "/r/x/y[@lang='en']")
      .collect().map(_.getString(0)).sorted
    assert(en.length == 2 && en.forall(_.contains("lang")))
    val k1 = graft.sources.Xml.readXmlNodePath(spark, dir, """/r/x[@k="1"]/y[@lang='en']""")
      .count()
    assert(k1 == 1L, "ancestor predicate must restrict capture")
    intercept[IllegalArgumentException] {
      graft.sources.Xml.readXmlNodePath(spark, dir, "/r/x[position()=1]/y")
    }
    // numeric character references decode before the compare (`&#49;` is
    // "1", `&#x65;` is "e"); an escaped ampersand does not (`&amp;#49;` is
    // the text "&#49;")
    val refs = Scratch.fresh("r5_nodepath_refs", sf)
    Files.write(Paths.get(refs, "a.xml"),
      ("""<r><x k="&#49;"><y lang="&#x65;n">A</y><y lang="fr">B</y></x>""" +
        """<x k="&amp;#49;"><y lang="en">C</y></x></r>""").getBytes("UTF-8"))
    val byRef = graft.sources.Xml.readXmlNodePath(spark, refs, """/r/x[@k="1"]/y[@lang='en']""")
      .collect().map(_.getString(0))
    assert(byRef.length == 1 && byRef.head.contains(">A<"),
      s"character references must decode in predicates: ${byRef.toSeq}")
    assert(graft.sources.Xml.readXmlNodePath(spark, refs, "/r/x[@k='&#49;']/y").count() == 1L)
  }
}
