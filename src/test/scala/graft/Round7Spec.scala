package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{Acid, AcidSql}

/** Round-7 invariants: the four round-6 ADVICE closures — second-dimension
  * scans subtract deletion vectors, plain CREATE TABLE bootstraps an
  * empty-but-typed table, the DV inline budget counts distinct sidecars
  * (not per-entry tags), and time travel refuses cleanly below the vacuum
  * horizon.
  */
class Round7Spec extends AnyFunSuite {
  import TestSpark._

  private def kv(sfDir: String) =
    Tables.orders(spark, sfDir).select(
      col("o_orderkey").as("k"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"),
      col("o_orderpriority").as("prio"))

  test("scanCol2Range subtracts deletion vectors like every other reader") {
    val dir = Scratch.fresh("r7_c2dv", sf)
    val t = Tables.orders(spark, sf).select(
      col("o_orderkey").as("k"),
      col("o_custkey").as("c2"),
      round(col("o_totalprice") * 100).cast("long").as("price_cents"))
    Acid.create(spark, dir, t, "k", 8)
    Acid.optimizeZorder(spark, dir, "c2", 8)
    val hiC2 = t.agg(max(col("c2"))).head.getLong(0)
    val (n, _, _) = Acid.deleteWhereMor(spark, dir,
      col("c2") <= hiC2 && col("k") % 3 === 0, None, "dv")
    assert(n > 0)
    val (df, _, _) = Acid.scanCol2Range(spark, dir, "c2", 0, hiC2)
    // the full-c2-range scan covers every file; deleted keys must be gone
    assert(df.filter(col("k") % 3 === 0).count() == 0,
      "second-dimension range scan resurrected MoR-deleted rows")
    assert(df.count() == t.count() - n)
  }

  test("plain CREATE TABLE through the catalog: readable empty, then INSERT INTO") {
    val root = Scratch.fresh("r7_create_cat", sf)
    val cat = "graft_r7c_" + Paths.get(sf).getFileName.toString.replace('.', '_')
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, price_cents BIGINT, prio STRING)")
    // empty v0 serves the DECLARED schema with zero rows (no zero-path
    // parquet read), through both the catalog scan and the library API
    assert(spark.sql(s"SELECT * FROM $cat.t").schema.fieldNames.toSeq ==
      Seq("k", "price_cents", "prio"))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 0L)
    assert(Acid.snapshot(spark, s"$root/t").count() == 0L)
    // first INSERT INTO an empty table commits v1 and reads back
    spark.sql(s"INSERT INTO $cat.t VALUES (1, 100, 'A'), (2, 200, 'B')")
    assert(Acid.latestVersion(s"$root/t") == 1)
    assert(spark.sql(s"SELECT sum(price_cents) FROM $cat.t").head.getLong(0) == 300L)
    // merge through the library API also works from the declared key col
    Acid.merge(spark, s"$root/t",
      spark.range(3, 5).select(col("id").as("k"),
        (col("id") * 10).as("price_cents"), lit("M").as("prio")), "m")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 4L)
  }

  test("DV inline budget counts distinct sidecars, not per-entry tags") {
    val dir = Scratch.fresh("r7_dv_budget", sf)
    // 8 files × 20k rows; one MoR delete of ~26k keys tags ALL 8 entries
    // with the SAME sidecar: per-entry sum ≈ 208k (> 100k budget) but the
    // actual deleted-key count ≈ 26k — the scan must still plan.
    val t = spark.range(0, 160000).select(col("id").as("k"),
      (col("id") % 97).as("price_cents"))
    Acid.create(spark, dir, t, "k", 8)
    val (n, tagged, total) = Acid.deleteWhereMor(spark, dir,
      col("k") % 6 === 0, None, "big")
    assert(n > AcidSql.DvInlineLimit / 6 && tagged == total && total == 8)
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    val perEntrySum = m.files.flatMap(_.dv.map(_._2)).sum
    assert(perEntrySum > AcidSql.DvInlineLimit,
      "fixture must exceed the budget under the old per-entry sum")
    assert(m.files.flatMap(_.dv).distinct.map(_._2).sum <= AcidSql.DvInlineLimit)
    // V2 scan plans (no refusal) and subtracts exactly n rows
    assert(spark.read.format("graft-acid-sql").load(dir).count() == 160000L - n)
  }

  /** Hazard-dense catalog for the XML split planners: a giant comment and
    * a giant CDATA spanning chunks, both full of fake structure; quoted
    * `>` and `/>` in attributes; `]]]>`; decoy paths; nested records; and
    * one record far bigger than a planning chunk. About 3.7 KB a shelf. */
  private def hazardCatalog(shelves: Int): String = {
    val sb = new StringBuilder
    sb ++= "<catalog>\n"
    // giant comment spanning multiple chunks, stuffed with fake tags
    sb ++= "<!-- " + ("<book key=\"fake\"> </catalog> <shelf genre=\"fiction\"> " * 2000) + " -->\n"
    var k = 0
    for (shelf <- 0 until shelves) {
      val genre = if (shelf % 2 == 0) "fiction" else "tech"
      sb ++= s"""<shelf genre="$genre" note="a>b" alt='x/>y'>\n"""
      for (_ <- 0 until 25) {
        k += 1
        if (k % 7 == 0)
          sb ++= s"""  <book key="$k" q='he said "hi>"'/>\n"""
        else
          sb ++= s"""  <book key="$k"><name>n$k &amp; sons</name><![CDATA[raw <book> ]] bytes]]]><related><book key="${k + 100000}"><name>NEST</name></book></related></book>\n"""
        if (k % 11 == 0)
          sb ++= s"""  <review stars="5"><book key="${k + 200000}"><name>DECOY</name></book></review>\n"""
        if (k % 13 == 0)
          sb ++= "  <!-- short <book key=\"c\"> comment -->\n"
      }
      sb ++= "</shelf>\n"
      if (shelf == 20) {
        // giant CDATA between shelves, spanning chunks, full of fake structure
        sb ++= "<![CDATA[" + ("</shelf><shelf genre=\"fiction\"><book key=\"cd\"> " * 2000) + "]]]>\n"
        // one record far bigger than a planning chunk
        k += 1
        sb ++= s"""<shelf genre="fiction"><book key="$k"><name>big</name><blob>""" +
          ("y" * 90000) + "</blob></book></shelf>\n"
      }
    }
    sb ++= "</catalog>\n"
    sb.toString
  }

  private val hazardPath = "/catalog/shelf[@genre='fiction']/book"

  test("parallel XML split planning: chunked plan == sequential scan, >1 task") {
    val dir = Scratch.fresh("r7_xml_parplan", sf)
    Files.write(Paths.get(dir, "big.xml"), hazardCatalog(40).getBytes("UTF-8"))
    val path = hazardPath
    // ground truth: the SEQUENTIAL planner (file < 2x a huge target), same
    // raw-byte capture scanner — the verdict's "byte-identical to the
    // current planner" criterion. The event-based readXmlNodePath
    // re-serializes CDATA so it cross-checks keys only.
    val seq = graft.sources.Xml.readXmlNodePathSplit(spark, dir, path, 1L << 30)
      .collect().map(_.getString(0)).sorted.toSeq
    assert(seq.nonEmpty && seq.exists(_.contains("blob")))
    val KeyRe = """key="(\d+)"""".r
    def keys(rs: Seq[String]) =
      rs.map(r => KeyRe.findFirstMatchIn(r).get.group(1).toLong).sorted
    val eventKeys = keys(graft.sources.Xml.readXmlNodePath(spark, dir, path)
      .collect().map(_.getString(0)).toSeq)
    assert(keys(seq) == eventKeys, "byte scanner vs event reader key drift")
    for (target <- Seq(64L * 1024, 1536L)) {
      val par = graft.sources.Xml.readXmlNodePathSplit(spark, dir, path, target)
        .collect().map(_.getString(0)).sorted.toSeq
      assert(graft.sources.Xml.lastPlanChunks.get() > 4,
        s"expected >4 planning chunks at target=$target")
      val onlyPar = par.diff(seq).take(2)
      val onlySeq = seq.diff(par).take(2)
      assert(par == seq, s"parallel plan diverged at target=$target: " +
        s"${par.size} vs ${seq.size} records; onlyPar=$onlyPar onlySeq=$onlySeq")
    }
  }

  test("XML split read at the default target: chunked plan, same ordered records") {
    val dir = Scratch.fresh("r7_xml_default_target", sf)
    // ~10 MiB: over twice the 4 MiB target Spark's file-partition rule
    // gives it on local[4] (max(4 MiB open cost, (size + 4 MiB) / 4))
    Files.write(Paths.get(dir, "big.xml"), hazardCatalog(2800).getBytes("UTF-8"))
    def snippets(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.getString(0)).toSeq
    // an explicit target is used as given: one range, sequential planner
    graft.sources.Xml.lastPlanChunks.set(0)
    val whole = graft.sources.Xml.readXmlNodePathSplit(spark, dir, hazardPath, 1L << 30)
    assert(whole.rdd.getNumPartitions == 1 && graft.sources.Xml.lastPlanChunks.get() == 0)
    val seq = snippets(whole)
    val default = graft.sources.Xml.readXmlNodePathSplit(spark, dir, hazardPath)
    assert(graft.sources.Xml.lastPlanChunks.get() > 1,
      "the default target should send the file through the chunked planner")
    assert(default.rdd.getNumPartitions > 1)
    assert(snippets(default) == seq)
  }

  test("optimizeRange rewrites only the overlapping files, carries the rest by sha") {
    import java.security.MessageDigest
    import scala.jdk.CollectionConverters._
    def sha(p: java.nio.file.Path) =
      MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        .map("%02x".format(_)).mkString
    def dataFiles(dir: String): Map[String, String] = {
      val root = Paths.get(dir)
      val w = Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString -> sha(p)).toMap
      finally w.close()
    }
    val dir = Scratch.fresh("r7_optr", sf)
    Acid.create(spark, dir, kv(sf), "k", 16)
    val mk = kv(sf).agg(max(col("k"))).head.getLong(0)
    val total = kv(sf).count()
    val sum0 = Acid.snapshot(spark, dir).agg(sum(col("price_cents"))).head.getLong(0)
    // a MoR delete inside the range: the rewrite must materialize it away
    val (nDel, _, _) = Acid.deleteWhereMor(spark, dir,
      col("k") % 10 === 6 && col("k").between(mk / 3, 2 * mk / 3),
      Some((mk / 3, 2 * mk / 3)), "dv")
    assert(nDel > 0)
    val m0 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val untouchedBefore = m0.files.filter(f => f.maxKey < mk / 3 || f.minKey > 2 * mk / 3)
    assert(untouchedBefore.nonEmpty)
    val shasBefore = dataFiles(dir)
    val (touched, after, before) = Acid.optimizeRange(spark, dir, mk / 3, 2 * mk / 3, 2)
    assert(touched > 0 && touched < before && after < before)
    val m1 = Acid.readManifest(dir, Acid.latestVersion(dir))
    // untouched entries carried forward byte-identical, same manifest rows
    val carried = m1.files.filter(f => untouchedBefore.exists(_.path == f.path))
    assert(carried.map(_.path).sorted == untouchedBefore.map(_.path).sorted)
    val shasAfter = dataFiles(dir)
    carried.foreach(f => assert(shasAfter(f.path) == shasBefore(f.path),
      s"${f.path} was rewritten"))
    // rewritten entries dropped their deletion vectors; the table reads
    // minus the deleted rows on every surface
    assert(m1.files.forall(f => f.dv.isEmpty ||
      untouchedBefore.exists(_.path == f.path)))
    assert(Acid.snapshot(spark, dir).count() == total - nDel)
    val deletedSum = Acid.snapshot(spark, dir).agg(sum(col("price_cents")))
      .head.getLong(0)
    assert(deletedSum < sum0)
    // a range with no overlap is a no-op: no version burned
    val vNow = Acid.latestVersion(dir)
    assert(Acid.optimizeRange(spark, dir, mk * 10, mk * 20, 2)._1 == 0)
    assert(Acid.latestVersion(dir) == vNow)
  }

  test("semdedup K(n)+refined centroids beat fixed-16-first on a x10 corpus") {
    val base0 = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val n = base0.count()
    // x10 corpus: same vectors replicated with shifted ids (the shape a
    // growing corpus takes — cluster populations scale, geometry doesn't)
    val base10 = (0 until 10).map(i => base0.select(
      (col("vec_id") + lit(i * 10 * n)).as("vec_id"), col("v")))
      .reduce(_ unionByName _)
    val fixed16 = base0.filter(col("vec_id") < 16)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val maxFixed = graft.operators.Llm.assignSizes(base10, fixed16)
      .agg(max("n_vecs")).head.getLong(0)
    val k = math.max(16L, math.sqrt(10.0 * n).toLong)
    val refined = graft.operators.Llm.refinedCentroids(base10, k)
    // replicated ids give IDENTICAL seed vectors; ties collapse onto the
    // lowest cid, so duplicated seeds yield empty (dropped) clusters
    val kEff = refined.count()
    assert(kEff > 16 && kEff <= k, s"effective K $kEff outside (16, $k]")
    val maxRefined = graft.operators.Llm.assignSizes(base10, refined)
      .agg(max("n_vecs")).head.getLong(0)
    assert(k > 16, "x10 corpus must demand K > 16")
    assert(maxRefined < maxFixed,
      s"K=$k refined max cluster $maxRefined !< fixed-16 max $maxFixed")
  }

  test("positional deletion vectors: no rewrite, every reader subtracts, V2 skips by ordinal") {
    import java.security.MessageDigest
    import scala.jdk.CollectionConverters._
    def sha(p: java.nio.file.Path) =
      MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
        .map("%02x".format(_)).mkString
    def dataShas(dir: String): Map[String, String] = {
      val root = Paths.get(dir)
      val w = Files.walk(root)
      try w.iterator().asScala
        .filter(p => p.toString.endsWith(".parquet") && !p.toString.contains("_pdv"))
        .map(p => root.relativize(p).toString -> sha(p)).toMap
      finally w.close()
    }
    val dir = Scratch.fresh("r7_pdv", sf)
    // NON-unique key: duplicate l_orderkey rows — key-level DVs can't do this
    val t = Tables.lineitem(spark, sf).select(
      col("l_orderkey").as("k"),
      expr("cast(round(l_quantity) as bigint)").as("qty"))
    Acid.create(spark, dir, t, "k", 8)
    assert(t.groupBy("k").count().filter(col("count") > 1).count() > 0,
      "fixture must have duplicate keys")
    val total = t.count()
    val before = dataShas(dir)
    val (n1, tagged, _) = Acid.deleteWherePositional(spark, dir,
      col("qty") % 7 === 0, None, "p1")
    assert(n1 > 0 && tagged == 8)
    // data files untouched byte-for-byte; only the sidecar is new
    assert(dataShas(dir) == before, "positional delete must not rewrite data")
    // library + V1 readers subtract exactly the deleted rows
    assert(Acid.snapshot(spark, dir).count() == total - n1)
    assert(Acid.snapshot(spark, dir).filter(col("qty") % 7 === 0).count() == 0)
    val mk = t.agg(max(col("k"))).head.getLong(0)
    val (ranged, _, _) = Acid.scanRange(spark, dir, 0, mk)
    assert(ranged.filter(col("qty") % 7 === 0).count() == 0)
    assert(spark.read.format("graft-acid").load(dir).count() == total - n1)
    // time travel still sees the pre-delete snapshot
    assert(Acid.snapshot(spark, dir, 0).count() == total)
    // V2 subtracts positional vectors by row ordinal (inline, under budget)
    val v2 = spark.read.format("graft-acid-sql").load(dir)
    assert(v2.count() == total - n1)
    assert(v2.filter(col("qty") % 7 === 0).count() == 0)
    // above the (conf-shrunk) inline budget: a pure COUNT answers from
    // the round-17 per-file dvRows stamps and never opens the sidecar
    // (capability superseding this pin's original refusal — SURVEY
    // §6.17); any ROW-producing scan still refuses toward OPTIMIZE
    spark.conf.set("spark.graft.dvInlineBudget", (n1 - 1).toString)
    try {
      assert(spark.read.format("graft-acid-sql").load(dir).count() == total - n1,
        "metadata count must not need the sidecar inline")
      val ex = intercept[IllegalArgumentException] {
        spark.read.format("graft-acid-sql").load(dir)
          .filter(col("qty") % 7 === 0).count()
      }
      assert(ex.getMessage.contains("positional"))
    } finally spark.conf.unset("spark.graft.dvInlineBudget")
    // mixing refusals, both directions
    assert(Try(Acid.deleteWhereMor(spark, dir,
      col("qty") === 1, None, "mx")).isFailure)
    // clone carries the sidecar by reference; vacuum keeps it live
    val cloneDir = Scratch.fresh("r7_pdv_clone", sf)
    Files.delete(Paths.get(cloneDir))
    Acid.cloneShallow(spark, dir, cloneDir)
    assert(Acid.snapshot(spark, cloneDir).count() == total - n1)
    Acid.vacuum(spark, dir, 1)
    assert(Acid.snapshot(spark, dir).count() == total - n1,
      "vacuum reclaimed a live positional sidecar")
    // OPTIMIZE materializes positional vectors away; V2 reads again
    Acid.optimize(spark, dir, 4)
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.forall(f => f.pdv.isEmpty && f.dv.isEmpty))
    assert(spark.read.format("graft-acid-sql").load(dir).count() == total - n1)
  }

  test("changeFeed serves positional deletes on duplicate-key tables, both paths") {
    val dir = Scratch.fresh("r7_pdv_cdf", sf)
    val t = Tables.lineitem(spark, sf).select(
      col("l_orderkey").as("k"),
      expr("cast(round(l_quantity) as bigint)").as("qty"))
    Acid.create(spark, dir, t, "k", 8)
    assert(t.groupBy("k").count().filter(col("count") > 1).count() > 0)
    val total = t.count()
    // CDC-at-commit fast path: pre-images persist, no diff, no key contract
    val (n1, _, _) = Acid.deleteWherePositional(spark, dir,
      col("qty") % 7 === 0, None, "p1", writeCdf = true)
    assert(Acid.readManifest(dir, 1).cdcPath.isDefined)
    val feed1 = Acid.changeFeed(spark, dir, 0, 1)
    assert(feed1.count() == n1)
    assert(feed1.filter(col("change_type") =!= "delete").count() == 0)
    assert(feed1.agg(sum("old_qty")).head.getLong(0) ==
      t.filter(col("qty") % 7 === 0).agg(sum("qty")).head.getLong(0))
    // derived fallback (no CDC): pdv-only drift classifies positionally —
    // the key-based full-outer diff would mis-join on duplicate keys
    val (n2, _, _) = Acid.deleteWherePositional(spark, dir,
      col("qty") % 11 === 3, None, "p2")
    assert(n2 > 0 && Acid.readManifest(dir, 2).cdcPath.isEmpty)
    val feed2 = Acid.changeFeed(spark, dir, 1, 2)
    assert(feed2.count() == n2)
    assert(feed2.filter(col("change_type") =!= "delete").count() == 0)
    assert(Acid.snapshot(spark, dir).count() == total - n1 - n2)
    // restore rolls the second delete back: removed pairs → re-inserts
    Acid.restore(spark, dir, 1)
    val feed3 = Acid.changeFeed(spark, dir, 2, 3)
    assert(feed3.count() == n2)
    assert(feed3.filter(col("change_type") =!= "insert").count() == 0)
    assert(feed3.agg(sum("new_qty")).head.getLong(0) % 11 === 3 * n2 % 11)
    assert(Acid.snapshot(spark, dir).count() == total - n1)
  }

  test("option(readChangeFeed) on the format reader serves the CDF surface") {
    val root = Scratch.fresh("r7_cdfopt", sf)
    val dir = s"$root/t"
    val mk = kv(sf).agg(max(col("k"))).head.getLong(0)
    Acid.create(spark, dir, kv(sf), "k", 8)
    Acid.merge(spark, dir,
      kv(sf).filter(col("k") % 10 === 3 && col("k") < lit(mk / 4))
        .withColumn("price_cents", col("price_cents") + 777), "u", writeCdf = true)
    Acid.deleteWhere(spark, dir, col("k") % 10 === 6 && col("k") < lit(mk / 4),
      Some((0L, mk / 4)), "d", writeCdf = true)
    val opt = spark.read.format("graft-acid-sql")
      .option("readChangeFeed", "true").load(dir)
    // CDF schema, not the snapshot schema
    assert(opt.columns.contains("_change_type") &&
      opt.columns.contains("_commit_version"))
    // same rows as the catalog `.changes` metadata table
    val cat = "graft_r7cdf_" + Paths.get(sf).getFileName.toString.replace('.', '_')
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val viaChanges = spark.read.table(s"$cat.t.changes")
    assert(opt.collect().map(_.toString).sorted.toSeq ==
      viaChanges.collect().map(_.toString).sorted.toSeq)
    // startingVersion bounds the increment range on the same spelling
    val v2Only = spark.read.format("graft-acid-sql")
      .option("readChangeFeed", "true").option("startingVersion", "1").load(dir)
    assert(v2Only.select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // startingTimestamp resolves to the same exclusive bound: pinned at
    // exactly v1's commit mtime it serves strictly-after changes (v2)
    val t1 = Files.getLastModifiedTime(
      Paths.get(dir, "_log", "v00001.txt")).toInstant
    val ts1 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneId.systemDefault()).format(t1)
    val afterTs = spark.read.format("graft-acid-sql")
      .option("readChangeFeed", "true").option("startingTimestamp", ts1).load(dir)
    assert(afterTs.select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).toSeq == Seq(2L))
    // predating the first commit serves every increment (CREATE excluded)
    val all = spark.read.format("graft-acid-sql")
      .option("readChangeFeed", "true")
      .option("startingTimestamp", "1990-01-01 00:00:00").load(dir)
    assert(all.select(col("_commit_version")).distinct()
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    // without the option, the same format still reads the snapshot
    assert(spark.read.format("graft-acid-sql").load(dir).columns
      .sameElements(Array("k", "price_cents", "prio")))
  }

  test("optimizeRange keeps col2 stats on clustered layouts; replacePartition refuses straddles") {
    // Partitioned-by-key-quartile layout: second-dimension stats must
    // survive a range-scoped compaction (round-8 plan item: the
    // rewritten subset used to drop stats2 — readers stayed correct,
    // pruning degraded), and a compaction that merges across partition
    // values widens the (pCol, v, v) pins into ranges — replacePartition
    // must REFUSE to replace a straddled value (stale rows would survive
    // under the merged file) while untouched values keep working.
    val mk = kv(sf).agg(max(col("k"))).head.getLong(0)
    val dir2 = Scratch.fresh("r7_optr_part", sf)
    val tp = kv(sf).select(col("k"), col("price_cents"),
      (lit(1995L) + (col("k") * 4 / (mk + 1)).cast("long")).as("pyear"))
    Acid.createPartitioned(spark, dir2, tp, "k", "pyear", 2)
    // middle key range spans the 1996/1997 quartile boundary
    val (t2, _, _) = Acid.optimizeRange(spark, dir2, mk / 4 + mk / 8, 3 * mk / 4 - mk / 8, 2)
    assert(t2 > 0)
    val m2 = Acid.readManifest(dir2, Acid.latestVersion(dir2))
    assert(m2.files.forall(_.stats2.exists(_._1 == "pyear")),
      "range rewrite dropped second-dimension stats on a clustered layout")
    assert(m2.files.exists(_.stats2.exists { case (c, mn, mx) => c == "pyear" && mn < mx }),
      "expected a widened partition pin from the cross-partition compaction")
    // an untouched partition value still prunes via the preserved stats
    val (df95, scanned, totalF) = Acid.scanCol2Range(spark, dir2, "pyear", 1995L, 1995L)
    assert(scanned < totalF, "col2 pruning stopped skipping after optimizeRange")
    assert(df95.count() == tp.filter(col("pyear") === 1995L).count())
    val backfill = tp.filter(col("pyear") === 1996L)
      .withColumn("price_cents", col("price_cents") + 1)
    assert(Try(Acid.replacePartition(spark, dir2, "pyear", 1996L, backfill, 2, "bf"))
      .isFailure, "replacePartition must refuse a straddled partition value")
    val b95 = tp.filter(col("pyear") === 1995L)
      .withColumn("price_cents", col("price_cents") + 1)
    Acid.replacePartition(spark, dir2, "pyear", 1995L, b95, 2, "bf95")
    assert(Acid.snapshot(spark, dir2).count() == tp.count())
  }

  test("catalog ALTER ADD COLUMN is metadata-only; NULLs until insert; rest refuses") {
    import java.security.MessageDigest
    import scala.jdk.CollectionConverters._
    def dataShas(dir: String): Map[String, String] = {
      val root = Paths.get(dir)
      val w = Files.walk(root)
      try w.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => root.relativize(p).toString ->
          MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
            .map("%02x".format(_)).mkString).toMap
      finally w.close()
    }
    val root = Scratch.fresh("r7_catevo", sf)
    val cat = "graft_r7evo_" + Paths.get(sf).getFileName.toString.replace('.', '_')
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    val dir = s"$root/t"
    Acid.create(spark, dir, kv(sf), "k", 8)
    val total = kv(sf).count()
    val before = dataShas(dir)
    val vBefore = Acid.latestVersion(dir)
    spark.sql(s"ALTER TABLE $cat.t ADD COLUMN discount_cents BIGINT")
    // SUPERSEDED (round-18, declared-schema versioning — SURVEY §6.18):
    // the original r7 pin said "ALTER must not commit a data version".
    // Since r17 RENAME/DROP commit metadata-only ALTER versions, and r18
    // extended that to EVERY schema change so each version's manifest
    // records the schema declared at its moment (the Delta
    // metadata-action semantic). The ALTER commits exactly ONE version
    // with the SAME file list — still metadata-only: no data file is
    // written or touched.
    assert(Acid.latestVersion(dir) == vBefore + 1,
      "ALTER commits one metadata version (round-18 schema versioning)")
    assert(dataShas(dir) == before, "ALTER must not rewrite data files")
    // every pre-ALTER row surfaces NULL; count and pruning intact
    val t = spark.table(s"$cat.t")
    assert(t.schema.fieldNames.toSeq == Seq("k", "price_cents", "prio", "discount_cents"))
    assert(t.count() == total)
    assert(t.filter(col("discount_cents").isNotNull).count() == 0)
    // VERSION AS OF a pre-ALTER version serves the pre-ALTER schema
    assert(!spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 0").schema
      .fieldNames.contains("discount_cents"))
    // the next insert writes the column; file-derived schema takes over
    spark.sql(s"INSERT INTO $cat.t VALUES (${Long.MaxValue / 2}, 100, 'NEW', 9)")
    val after = spark.table(s"$cat.t")
    assert(after.count() == total + 1)
    assert(after.filter(col("discount_cents") === 9).count() == 1)
    // non-additive changes refuse loudly
    // value-column DROP is supported since round 8 (mapping layer, see
    // Round8Spec); the merge KEY still refuses — it is positional
    assert(Try(spark.sql(s"ALTER TABLE $cat.t DROP COLUMN k")).isFailure)
    assert(Try(spark.sql(
      s"ALTER TABLE $cat.t ADD COLUMN dup_test BIGINT AFTER k")).isFailure)
    assert(Try(spark.sql(s"ALTER TABLE $cat.t ADD COLUMN prio STRING")).isFailure)
    // RENAME is supported since round 8 (column mapping) — see Round8Spec;
    // here just pin that it no longer refuses and reads back correctly.
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN prio TO p2")
    assert(spark.table(s"$cat.t").schema.fieldNames.contains("p2"))
    assert(spark.table(s"$cat.t").filter(col("p2") === "NEW").count() == 1)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("TIMESTAMP AS OF below the vacuum horizon refuses cleanly") {
    val dir = Scratch.fresh("r7_tt_vacuum", sf)
    Acid.create(spark, dir, kv(sf), "k", 4)
    val t0 = Files.getLastModifiedTime(
      Paths.get(dir, "_log", "v00000.txt")).toInstant
    val micros0 = t0.getEpochSecond * 1000000L + t0.getNano / 1000L
    Thread.sleep(1100) // distinct mtimes either side of the horizon
    val mk = kv(sf).agg(max(col("k"))).head.getLong(0)
    Acid.merge(spark, dir, kv(sf).filter(col("k") < lit(mk / 4))
      .withColumn("prio", lit("P")), "m")
    Acid.merge(spark, dir, kv(sf).filter(col("k") < lit(mk / 8))
      .withColumn("prio", lit("Q")), "m2")
    Acid.vacuum(spark, dir, 2)
    // at/after the horizon still resolves
    assert(Acid.versionAtTimestamp(dir,
      System.currentTimeMillis() * 1000L).contains(2))
    // before the horizon: IllegalArgumentException naming the vacuumed
    // range — never a raw NoSuchFileException from a missing manifest stat
    val ex = intercept[IllegalArgumentException] {
      Acid.versionAtTimestamp(dir, micros0)
    }
    assert(ex.getMessage.contains("vacuumed"))
  }
}
