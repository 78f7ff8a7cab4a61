package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan/parallelism probe for local iteration: prints the formatted physical
  * plan and timing for the named queries, plus input-partition diagnostics.
  *
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.Probe <query> [query...]"
  */
/** Synthesizes the N× relational scale fixture for the SURVEY §6.1 probe:
  * orders/lineitem/events replicated ×N with key shifts that keep every
  * join relationship intact (o_orderkey and l_orderkey shift together;
  * o_custkey / user_id / event_type stay, so per-dim fan-out and skew
  * density grow ×N — deliberately adversarial for joins and windows).
  *
  * Probe-only fixture: events.ts is re-written as plain INT64 nanos (the
  * nanosAsLong read drops the TIMESTAMP(NANOS) logical type). Tables.events
  * handles both identically, but a DuckDB `CAST(ts AS TIMESTAMP)` oracle
  * would not — don't point the correctness gate at this dir.
  *
  *   sbt "runMain graft.ScaleGen /root/testdata/sf0.1 /tmp/graft_scale10 10"
  */
object ScaleGen {
  def main(args: Array[String]): Unit = {
    val src    = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out    = if (args.length > 1) args(1) else "/tmp/graft_scale10"
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    val ids = spark.range(copies).toDF("cp")
    // documents/embeddings scale by REPLICATION with shifted ids — every
    // doc gains N-1 exact clones, so duplicate density is maximal and the
    // dedup suite sees its adversarial case (mirrors the round-2 §6.1
    // probe methodology).
    val doc = spark.read.parquet(s"$src/documents.parquet")
    val dShift = doc.agg(max("doc_id")).first().getLong(0) + 1
    doc.crossJoin(ids)
      .withColumn("doc_id", col("doc_id") + col("cp") * dShift).drop("cp")
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    val vShift = emb.agg(max("vec_id")).first().getLong(0) + 1
    emb.crossJoin(ids)
      .withColumn("vec_id", col("vec_id") + col("cp") * vShift).drop("cp")
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    val o = spark.read.parquet(s"$src/orders.parquet")
    val kShift = o.agg(max("o_orderkey")).first().getLong(0) + 1
    o.crossJoin(ids)
      .withColumn("o_orderkey", col("o_orderkey") + col("cp") * kShift).drop("cp")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    spark.read.parquet(s"$src/lineitem.parquet").crossJoin(ids)
      .withColumn("l_orderkey", col("l_orderkey") + col("cp") * kShift).drop("cp")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$src/events.parquet")
    val eShift = ev.agg(max("event_id")).first().getLong(0) + 1
    ev.crossJoin(ids)
      .withColumn("event_id", col("event_id") + col("cp") * eShift).drop("cp")
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // Generated dirs rewrite events.ts as plain INT64 (the TIMESTAMP(NANOS)
    // logical type is lost), so the DuckDB CAST(ts AS TIMESTAMP) oracles
    // would silently diverge there. The marker lets Verify refuse to run
    // the correctness gate against a probe-only fixture.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$out/PROBE_ONLY"),
      "Scale-probe fixture: events.ts lacks the TIMESTAMP(NANOS) logical " +
        "type. Bench/Probe only — not valid for the DuckDB correctness gate.\n")
    println(s"[scalegen] wrote ×$copies fixture to $out")
    spark.stop()
  }
}

object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the session (codegen compiler, broadcast machinery) so per-query
    // timings aren't polluted by one-time startup.
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().count()

    for (t <- Seq("lineitem", "documents", "embeddings"))
      println(s"[probe] $t partitions: " +
        spark.read.parquet(s"$sfDir/$t.parquet").rdd.getNumPartitions)

    if (args.contains("fuzzy_debug")) fuzzyDebug(spark, sfDir)
    if (args.contains("cluster_debug")) clusterDebug(spark, sfDir)

    for (name <- args.filterNot(a => a == "fuzzy_debug" || a == "cluster_debug")) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      println(s"===== $name =====")
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n  = df.count()
      println(f"[probe] $name rows=$n time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }

  /** Phase timing of the cluster query: fuzzy pipeline vs the label loop. */
  private def clusterDebug(spark: SparkSession, sfDir: String): Unit = {
    var t0 = System.nanoTime()
    def lap(tag: String): Unit = {
      println(f"[probe] cluster/$tag: ${(System.nanoTime() - t0) / 1e9}%.2fs")
      t0 = System.nanoTime()
    }
    val df = SparkEntry.queries("llm_dedup_cluster")(spark, sfDir)
    lap("fn-call (pipeline+loop)")
    val n = df.count()
    lap(s"final count ($n rows)")
  }

  /** Stage-wise timing of the MinHash dedup pipeline. */
  private def fuzzyDebug(spark: SparkSession, sfDir: String): Unit = {
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      println(f"[probe] fuzzy/$tag: ${(System.nanoTime() - t0) / 1e9}%.2fs"); r
    }
    val dp = spark.sparkContext.defaultParallelism
    val toks = split(col("text"), " ")
    val sh = when(size(toks) < 3, array().cast("array<string>"))
      .otherwise(array_distinct(transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ",
          element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2)))))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(dp).withColumn("sh", sh)
      .filter(size(col("sh")) > 0).select(col("doc_id"), col("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    time("shingles+persist") { docs.count() }
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    // Mirrors Llm.nearDupPairsPlan's 16-slot (two-md5) / 8-band shape —
    // including BOTH md5s in the timed hash stage.
    def withMd(df: org.apache.spark.sql.DataFrame) =
      df.withColumn("md", concat(md5(col("g")), md5(concat(col("g"), lit("#2")))))
    time("explode+2xmd5") { withMd(ex).count() }
    val mh = withMd(ex)
      .groupBy(col("doc_id"))
      .agg(min(substring(col("md"), 1, 4)).as("m0"),
        (1 until 16).map(i =>
          min(substring(col("md"), 4 * i + 1, 4)).as(s"m$i")): _*)
    time("minhash") { mh.count() }
    val bands = mh.select(col("doc_id"), explode(array(
        (0 until 8).map(i => struct(lit(i).as("band_id"),
          concat(col(s"m${2 * i}"), col(s"m${2 * i + 1}")).as("key"))): _*)).as("bk"))
      .select(col("doc_id"), col("bk.band_id").as("band_id"), col("bk.key").as("key"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.key") === col("y.key") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id1"), col("y.doc_id").as("id2")).distinct()
    println("[probe] fuzzy/candidates: " + time("cand") { cand.count() })
    val verified = cand
      .join(docs.select(col("doc_id").as("id1"), col("sh").as("sh1")), "id1")
      .join(docs.select(col("doc_id").as("id2"), col("sh").as("sh2")), "id2")
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))).cast("double"))
      .withColumn("jaccard", round(
        col("inter") / (size(col("sh1")) + size(col("sh2")) - col("inter")), 4))
      .filter(col("jaccard") >= 0.5)
    println("[probe] fuzzy/verified: " + time("verify") { verified.count() })
  }
}

/** §6.5 MERGE scale probe: per-batch Acid.merge cost on the 1× orders table
  * vs a ×10 table at PRODUCTION geometry — file SIZE held constant, file
  * COUNT grows ×10 (a lakehouse rolls files at ~1 GB; tables grow in file
  * count). The CDC batch patches a FIXED absolute key range, so at ×10 the
  * manifest prunes 10× harder and the touched-byte volume — hence per-batch
  * cost — should stay flat. A flat ratio here is the §2.10 claim "per-batch
  * cost tracks batch locality, not table size" measured, the same
  * done-criterion the round-5 st_foreachbatch_upsert redesign used.
  *
  *   sbt "runMain graft.AcidProbe /root/testdata/sf0.1"
  */
/** Measures the V2 Group-API row reader (graft-acid-sql) against the V1
  * vectorized relation (graft-acid) on the same snapshot — the numbers
  * behind AcidSql.scala's "bulk analytics should read through V1" note.
  *
  *   sbt "runMain graft.AcidSqlProbe /root/testdata/sf0.1"
  */
object AcidSqlProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Acid
    val dir = Scratch.fresh("acidsql_probe", sfDir)
    val base = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))
    Acid.create(spark, dir, base, "k", 8)
    def time(tag: String)(body: => Long): Double = {
      body // warm
      val t0 = System.nanoTime()
      val v = body
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[acidsql-probe] $tag%-10s $sec%.3fs (sum=$v)")
      sec
    }
    val v1 = time("v1-read") {
      spark.read.format("graft-acid").load(dir)
        .agg(sum(col("price_cents"))).head.getLong(0)
    }
    val v2 = time("v2-read") {
      spark.read.format("graft-acid-sql").load(dir)
        .agg(sum(col("price_cents"))).head.getLong(0)
    }
    val snap = time("snapshot") {
      Acid.snapshot(spark, dir)
        .agg(sum(col("price_cents"))).head.getLong(0)
    }
    println(f"[acidsql-probe] v2/v1 = ${v2 / v1}%.2f, v2/snapshot = ${v2 / snap}%.2f at ${base.count()} rows")
    // WIDE geometry (12 columns, all read): the round-6 row-at-a-time V2
    // reader paid per-cell decode here; the columnar reader must not.
    val wideDir = Scratch.fresh("acidsql_probe_wide", sfDir)
    val wide = (1 to 10).foldLeft(base) { (df, i) =>
      df.withColumn(s"w$i", col("k") * i + col("price_cents") % (i + 7))
    }
    Acid.create(spark, wideDir, wide, "k", 8)
    val wideCols = (1 to 10).map(i => sum(col(s"w$i"))) :+ sum(col("price_cents"))
    val v2w = time("v2-wide") {
      spark.read.format("graft-acid-sql").load(wideDir)
        .agg(wideCols.head, wideCols.tail: _*).head.getLong(0)
    }
    val snapw = time("snap-wide") {
      Acid.snapshot(spark, wideDir)
        .agg(wideCols.head, wideCols.tail: _*).head.getLong(0)
    }
    println(f"[acidsql-probe] WIDE v2/snapshot = ${v2w / snapw}%.2f at 12 read columns")
    spark.stop()
  }
}

object AcidProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sources.Acid

    val base = Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))
    val kShift = base.agg(max(col("k"))).head.getLong(0) + 1
    val x10 = base.crossJoin(spark.range(10).toDF("cp"))
      .withColumn("k", col("k") + col("cp") * kShift).drop("cp")

    // Fixed absolute batch: patch keys [0, kShift/8) ∩ (k % 10 = 3) — same
    // rows at both scales, clustered into the first file(s).
    def batchFor(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("k") % 10 === 3 && col("k") < lit(kShift / 8))
        .withColumn("price_cents", col("price_cents") + 777)
        .withColumn("prio", lit("PATCHED"))

    def run(tag: String, df: org.apache.spark.sql.DataFrame, nFiles: Int): (Double, Double) = {
      val dir = Scratch.fresh(s"acid_probe_$tag", sfDir)
      Acid.create(spark, dir, df, "k", nFiles)
      val b = batchFor(df)
      b.count() // materialize the batch plan outside the timed window
      val t0 = System.nanoTime()
      val r = Acid.merge(spark, dir, b, "p")
      val sec = (System.nanoTime() - t0) / 1e9
      // change feed reads the file-list symmetric difference — its cost
      // must also track changed files, not table size
      val t1 = System.nanoTime()
      val nCh = Acid.changeFeed(spark, dir, 0, 1).count()
      val cfSec = (System.nanoTime() - t1) / 1e9
      println(f"[acid-probe] $tag%-4s files=${r.filesTotal}%3d rewritten=${r.filesRewritten} merge=$sec%.2fs cdf=$cfSec%.2fs changes=$nCh")
      (sec, cfSec)
    }
    val (m1, c1)   = run("x1", base, 8)
    val (m10, c10) = run("x10", x10, 80)
    println(f"[acid-probe] merge ratio x10/x1 = ${m10 / m1}%.2f, cdf ratio = ${c10 / c1}%.2f (flat ≈ 1.0 = batch-bounded)")

    // CDC-at-commit read-cost probe: identical table + batch, changeFeed
    // timed against the derived diff vs the persisted CDC file. The
    // at-commit write costs one batch-sized parquet write; every
    // subsequent increment read (streams, multiple consumers, replays)
    // skips the two-sided pruned scan + full-outer join.
    def timedFeed(tag: String, writeCdf: Boolean): Double = {
      val dir = Scratch.fresh(s"acid_probe_cdcread_$tag", sfDir)
      Acid.create(spark, dir, x10, "k", 80)
      Acid.merge(spark, dir, batchFor(x10), "p", writeCdf = writeCdf)
      Acid.changeFeed(spark, dir, 0, 1).count() // warm
      val t0 = System.nanoTime()
      val n = Acid.changeFeed(spark, dir, 0, 1).count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[acid-probe] cdf-read $tag%-5s $sec%.3fs ($n rows)")
      sec
    }
    val dDiff = timedFeed("diff", writeCdf = false)
    val dCdc  = timedFeed("cdc", writeCdf = true)
    println(f"[acid-probe] cdc/diff read ratio = ${dCdc / dDiff}%.2f (<1 = persisted CDC wins)")

    // MoR vs CoW delete: a FIXED tiny delete set (same absolute keys at
    // both scales) against growing files. Copy-on-write rewrites every
    // touched file (cost ∝ file bytes); merge-on-read writes the deleted
    // keys once (cost ∝ deleted rows) — the ×10 ratio is the proof.
    def timedDelete(tag: String, df: org.apache.spark.sql.DataFrame,
        nFiles: Int, mor: Boolean): Double = {
      val dir = Scratch.fresh(s"acid_probe_del_$tag", sfDir)
      Acid.create(spark, dir, df, "k", nFiles)
      val pred = col("k") % 1000 === 3 && col("k") < lit(kShift / 8)
      val hint = Some((0L, kShift / 8))
      val t0 = System.nanoTime()
      val n =
        if (mor) Acid.deleteWhereMor(spark, dir, pred, hint, "d")._1
        else Acid.deleteWhere(spark, dir, pred, hint, "d")._1
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[acid-probe] delete $tag%-8s $sec%.2fs ($n rows)")
      sec
    }
    // SAME file count at x10 → each touched file holds 10× the bytes,
    // which is the geometry where rewrite cost shows (few huge files)
    val cow1  = timedDelete("cow-x1", base, 8, mor = false)
    val cow10 = timedDelete("cow-x10", x10, 8, mor = false)
    val mor1  = timedDelete("mor-x1", base, 8, mor = true)
    val mor10 = timedDelete("mor-x10", x10, 8, mor = true)
    println(f"[acid-probe] delete x10/x1 (8 files both): cow=${cow10 / cow1}%.2f mor=${mor10 / mor1}%.2f; mor/cow at x10 = ${mor10 / cow10}%.2f")
    spark.stop()
  }
}
