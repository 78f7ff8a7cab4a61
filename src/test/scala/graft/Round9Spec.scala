package graft

import java.nio.file.{Files, Paths}

import scala.util.Try

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Acid

/** Round-9 additions: the round-8 advisor's correctness items (library
  * merge on column-mapped tables, composite-key DROP COLUMN guard,
  * rename-to-live-physical-name collision, quoted maintenance targets
  * with whitespace) plus the round-9 verdict surfaces (manifest-log
  * checkpointing, multi-column file stats, disjoint-writer auto-rebase,
  * time-based VACUUM, merge-time schema evolution).
  */
class Round9Spec extends AnyFunSuite {
  import TestSpark._

  private def catFor(tag: String, root: String): String = {
    val cat = s"graft_r9${tag}_" +
      Paths.get(sf).getFileName.toString.replace('.', '_')
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    cat
  }

  test("library merge translates logical batch columns on column-mapped tables") {
    val root = Scratch.fresh("r9_merge_mapped", sf)
    val cat = catFor("mm", root)
    val dir = s"$root/t"
    val t = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    Acid.create(spark, dir, t, "k", 4)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing") // force catalog init
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN v TO w")
    // batch written against the LOGICAL name: without the physical
    // translation this classified as a schema-evolved NEW column and the
    // snapshot grew a duplicate/ambiguous column pair
    import spark.implicits._
    val r = Acid.merge(spark, dir,
      Seq((10L, -1L), (200L, -2L)).toDF("k", "w"), "wr")
    assert(!r.skipped)
    val snap = Acid.snapshot(spark, dir)
    assert(snap.columns.toSeq === Seq("k", "w"), "no duplicate columns")
    assert(snap.count() === 101)
    assert(snap.filter(col("k") === 10).head.getLong(1) === -1L)
    assert(snap.filter(col("k") === 200).head.getLong(1) === -2L)
    assert(snap.filter(col("k") === 11).head.getLong(1) === 22L)
    // the rewritten files must carry the PHYSICAL field name (the rename
    // commits its own ALTER version since round-17, so the merge is the
    // LATEST version, not v1)
    val vM = Acid.latestVersion(dir)
    val newFiles = Acid.readManifest(dir, vM).files
      .filterNot(Acid.readManifest(dir, vM - 1).files.toSet)
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      spark.read.parquet(s"$dir/${f.path}").schema.fieldNames.contains("v")))
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("DROP COLUMN refuses every composite merge-key column, not just the first") {
    val root = Scratch.fresh("r9_drop_comp", sf)
    val cat = catFor("dc", root)
    val dir = s"$root/t"
    val t = spark.range(200)
      .select(expr("id div 20").as("k1"), expr("id % 20").as("k2"),
        (col("id") * 3).as("v"))
    Acid.create(spark, dir, t, Seq("k1", "k2"), 4, None)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing")
    assert(Try(spark.sql(s"ALTER TABLE $cat.t DROP COLUMN k2")).isFailure,
      "second key column must refuse to drop")
    assert(Try(spark.sql(s"ALTER TABLE $cat.t DROP COLUMN k1")).isFailure)
    spark.sql(s"ALTER TABLE $cat.t DROP COLUMN v") // non-key drops fine
    assert(Acid.snapshot(spark, dir).columns.toSeq === Seq("k1", "k2"))
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("RENAME refuses a new name colliding with a live physical column") {
    val root = Scratch.fresh("r9_ren_collide", sf)
    val cat = catFor("rc", root)
    val dir = s"$root/t"
    val t = spark.range(50).select(col("id").as("k"),
      (col("id") * 2).as("a"), (col("id") * 3).as("c"))
    Acid.create(spark, dir, t, "k", 2)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing")
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN a TO b")
    // files still carry physical 'a' — a rename landing on it would make
    // snapshot's rename fold produce duplicate columns
    assert(Try(spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN c TO a")).isFailure)
    // renaming b BACK to its own physical name is the identity map — fine
    spark.sql(s"ALTER TABLE $cat.t RENAME COLUMN b TO a")
    assert(Acid.snapshot(spark, dir).columns.toSeq === Seq("k", "a", "c"))
    assert(Acid.snapshot(spark, dir).agg(sum(col("a"))).head.getLong(0) === 2450L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("maintenance SQL accepts quoted paths containing whitespace") {
    val base = Scratch.fresh("r9_ws", sf)
    val dir = s"$base/my table"
    Files.createDirectories(Paths.get(dir))
    Acid.create(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")), "k", 4)
    val opt = spark.sql(s"OPTIMIZE '$dir' TARGET 2 FILES").head
    assert(opt.getLong(1) < opt.getLong(0))
    val vac = spark.sql(s"VACUUM '$dir'").head
    assert(vac.getLong(0) >= 4)
    assert(spark.sql(s"DESCRIBE HISTORY '$dir'").count() >= 1)
  }

  test("delta log: fresh parses reproduce every version; resolution stays bounded") {
    import spark.implicits._
    val dir = Scratch.fresh("r9_deltalog", sf)
    val t = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    Acid.create(spark, dir, t, "k", 4)
    // 24 single-row appends (delta manifests) + a merge + a MoR delete
    spark.range(1, 25).select((col("id") + 100L).as("k"), col("id").as("v"))
      .repartitionByRange(24, col("k"))
      .write.mode("overwrite").parquet(s"$dir/d_tail")
    val entries = {
      // stage entries via a throwaway stats read: commit one per version
      val raw = spark.read.parquet(s"$dir/d_tail")
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("rows"), min(col("k")).as("mn"), max(col("k")).as("mx"))
        .collect()
      val prefix = Paths.get(dir).toAbsolutePath.toString
      raw.map { r =>
        val abs = new java.net.URI(r.getString(0)).getPath
        Acid.FileEntry(abs.stripPrefix(prefix).stripPrefix("/"),
          r.getLong(1), r.getLong(2), r.getLong(3))
      }.sortBy(_.path).toSeq
    }
    entries.foreach(e => Acid.appendCommit(dir, Seq(e)): Unit)
    val afterAppends = Acid.latestVersion(dir)
    assert(afterAppends === entries.size)
    Acid.merge(spark, dir, Seq((5L, -1L)).toDF("k", "v"), "w")
    Acid.deleteWhereMor(spark, dir, col("k") === 7L, Some((7L, 7L)), "mor")
    val latest = Acid.latestVersion(dir)
    // fresh parses (no cache) must reproduce every retained version
    Acid.clearManifestCache()
    assert(Acid.snapshot(spark, dir).count() === 100 + entries.size - 1)
    assert(Acid.snapshot(spark, dir).filter(col("k") === 5).head.getLong(1) === -1L)
    Acid.clearManifestCache()
    assert(Acid.snapshot(spark, dir, afterAppends).count() === 100 + entries.size)
    Acid.clearManifestCache()
    assert(Acid.snapshot(spark, dir, 0).count() === 100)
    // resolution depth bounded by the checkpoint cadence
    assert(Acid.logResolutionDepth(dir, latest) <= Acid.LogCheckpointInterval + 1)
    assert(Acid.lastCheckpointVersion(dir).exists(_ >= Acid.LogCheckpointInterval))
    // a single-entry append manifest is delta-sized, not table-sized
    val mid = entries.size / 2
    val manifest = Paths.get(dir, "_log", f"v$mid%05d.txt")
    assert(Files.readAllLines(manifest).size <= 3,
      "append manifest should hold a delta, not the full file list")
  }

  test("cstats: string/date min-max stamp on write, prune scans, survive rewrites") {
    import spark.implicits._
    val dir = Scratch.fresh("r9_cstats", sf)
    val t = spark.range(400).select(col("id").as("k"),
      concat(lit("S"), lpad(col("id").cast("string"), 6, "0")).as("tag"),
      date_add(to_date(lit("2020-01-01")), col("id").cast("int")).as("d"),
      (col("id") * 3).as("v"))
    Acid.create(spark, dir, t, "k", 8)
    val m0 = Acid.readManifest(dir, 0)
    assert(m0.files.forall(f => f.cstats.exists(_._1 == "tag") &&
      f.cstats.exists(_._1 == "d")), "every file carries string AND date stats")
    // string point lookup prunes to one file
    val (sdf, s1, s2) = Acid.scanColRange(spark, dir, "tag", "S000123", "S000123")
    assert(s1 === 1 && s2 === 8)
    assert(sdf.count() === 1 && sdf.head.getLong(0) === 123L)
    // date window prunes and stays exact
    val (ddf, d1, d2) = Acid.scanColRange(spark, dir, "d",
      "2020-04-10", "2020-05-09")
    assert(d1 < d2, s"expected date pruning, scanned $d1/$d2")
    assert(ddf.count() === 30)
    // a merge rewrite recomputes stats on its new files, carries the rest
    val r = Acid.merge(spark, dir,
      Seq((50L, "S999999", java.sql.Date.valueOf("2031-01-01"), -1L))
        .toDF("k", "tag", "d", "v"), "w")
    assert(r.filesRewritten === 1)
    Acid.clearManifestCache()
    val m1 = Acid.readManifest(dir, 1)
    assert(m1.files.forall(_.cstats.nonEmpty))
    val rewritten = m1.files.filterNot(m0.files.toSet)
    assert(rewritten.exists(_.cstats.exists { case (c, _, mx) =>
      c == "tag" && mx == "S999999" }))
    // the stale-probe now must NOT skip the rewritten file
    val (pdf, p1, _) = Acid.scanColRange(spark, dir, "tag", "S999999", "S999999")
    assert(p1 >= 1 && pdf.count() === 1)
  }

  test("delta log: vacuum materializes a horizon checkpoint; retained versions survive") {
    val dir = Scratch.fresh("r9_vac_ckpt", sf)
    Acid.create(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")), "k", 4)
    import spark.implicits._
    for (i <- 1 to 15)
      Acid.merge(spark, dir, Seq((i.toLong, -i.toLong)).toDF("k", "v"), s"w$i")
    // horizon at 13 — NOT on the checkpoint cadence; retained 13..15 are
    // deltas whose chain crosses the horizon without the materialized base
    val (_, _) = Acid.vacuum(spark, dir, retainFrom = 13)
    Acid.clearManifestCache()
    assert(Acid.latestVersion(dir) === 15)
    assert(Acid.snapshot(spark, dir).filter(col("v") < 0).count() === 15)
    assert(Acid.snapshot(spark, dir, 13).filter(col("v") < 0).count() === 13)
    assert(Try(Acid.readManifest(dir, 12)).isFailure)
    assert(Acid.logResolutionDepth(dir, 15) <= 3)
  }

  test("VACUUM RETAIN n HOURS resolves the horizon from commit wall-clock") {
    val base = Scratch.fresh("r9_hours", sf)
    val dir = s"$base/t"
    Files.createDirectories(Paths.get(dir))
    Acid.create(spark, dir,
      spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v")), "k", 4)
    Acid.optimize(spark, dir, 2) // v1; v0's originals become orphans
    Acid.optimize(spark, dir, 3) // v2
    // age v0 and v1 beyond a 1-hour horizon; v2 stays fresh. The DATA
    // files those versions orphaned must age too: RETAIN n HOURS also
    // graces young unreferenced files (the staging-race guard), exactly
    // Delta's "only files older than retention" contract
    for (v <- 0 to 1)
      Files.setLastModifiedTime(Paths.get(dir, "_log", f"v$v%05d.txt"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3 * 3600 * 1000L))
    val liveNow = Acid.readManifest(dir, 2).files.map(_.path).toSet
    (0 to 1).flatMap(v => Acid.readManifest(dir, v).files.map(_.path))
      .distinct.filterNot(liveNow)
      .foreach(p => Files.setLastModifiedTime(Paths.get(dir, p),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 3 * 3600 * 1000L)))
    // DRY RUN parity: reports without reclaiming
    val dry = spark.sql(s"VACUUM '$dir' RETAIN 1 HOURS DRY RUN").head
    assert(dry.getLong(0) >= 1)
    assert(Try(Acid.snapshot(spark, dir, 0).count()).isSuccess)
    val real = spark.sql(s"VACUUM '$dir' RETAIN 1 HOURS").head
    assert(real.getLong(0) === dry.getLong(0))
    // below-horizon versions refuse; fresh latest survives
    assert(Try(Acid.snapshot(spark, dir, 0).count()).isFailure)
    assert(Acid.snapshot(spark, dir).count() === 100)
    // a wide horizon reclaims nothing
    val wide = spark.sql(s"VACUUM '$dir' RETAIN 1000 HOURS DRY RUN").head
    assert(wide.getLong(0) === 0)
  }

  test("events loaders do not mutate the session conf (nanos switch scoped)") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(key)
    assert(Tables.eventsTsType(spark, sf) !== null)
    assert(Tables.events(spark, sf).count() > 0)
    assert(spark.conf.get(key, "false") === "false",
      "the events loaders must not leak the nanos switch into the caller's session")
  }

  test("captured XML subtrees re-inject root-declared namespace bindings") {
    import graft.sources.Xml
    val dir = Scratch.fresh("r9_ns_root", sf)
    val body = (0 until 40).map { k =>
      if (k % 2 == 0) s"""  <x:book key="$k"><name>N$k</name></x:book>"""
      else s"""  <b:book xmlns:b="urn:b" key="$k"><name>N$k</name></b:book>"""
    }.mkString("\n")
    Files.write(Paths.get(dir, "cat.xml"),
      ("""<catalog xmlns:x="urn:x">""" + "\n" + body + "\n</catalog>")
        .getBytes("UTF-8"))
    // the StAX reference reader, then the byte scanner over the whole file
    // (one range at a 1 GiB target): prefixes bound, no duplicate
    // declarations
    val seqRows = StaxOracle.records(dir, "/catalog/book").toArray
    val wholeRows = Xml.readXmlNodePath(spark, dir, "/catalog/book",
        targetSplitBytes = 1L << 30)
      .collect().map(_.getString(0))
    for (rows <- Seq(seqRows, wholeRows)) {
      assert(rows.length === 40)
      assert(rows.filter(_.contains("<x:book"))
        .forall(_.contains("xmlns:x=\"urn:x\"")))
      assert(rows.filter(_.contains("<b:book"))
        .forall(r => "xmlns:b".r.findAllIn(r).size == 1),
        "a record redeclaring its own prefix must not get a duplicate")
    }
    // byte-level scanner at a forced split size: same records, same
    // re-injection (ranges after the first rely on the planned scopes)
    val splitRows = Xml.readXmlNodePath(spark, dir, "/catalog/book",
        targetSplitBytes = 512)
      .collect().map(_.getString(0))
    assert(splitRows.length === 40)
    assert(splitRows.filter(_.contains("<x:book"))
      .forall(_.contains("xmlns:x=\"urn:x\"")))
    assert(splitRows.filter(_.contains("<b:book"))
      .forall(r => "xmlns:b".r.findAllIn(r).size == 1))
    // extraction parity between the two readers
    def keys(rows: Array[String]) = {
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      import spark.implicits._
      spark.createDataset(rows.toSeq).toDF("xml")
        .withColumn("p", from_xml(col("xml"),
          StructType(Seq(StructField("_key", LongType)))))
        .select("p._key").collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(keys(seqRows) === (0L until 40L) && keys(splitRows) === keys(seqRows) &&
      keys(wholeRows) === keys(seqRows))
  }

  test("merge-time type widening: wide snapshot, narrow carried files, safe follow-ups") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
    val dir = Scratch.fresh("r9_widen", sf)
    val t = spark.range(400).select(col("id").as("k"),
      (col("id") * 3).cast("int").as("v"))
    Acid.create(spark, dir, t, "k", 4)
    // widening merge: v arrives as BIGINT, touching only the low file
    val r = Acid.merge(spark, dir, Seq((5L, 5000000000L)).toDF("k", "v"), "w")
    assert(!r.skipped)
    val snap = Acid.snapshot(spark, dir)
    assert(snap.schema("v").dataType === LongType, "snapshot serves the wide type")
    assert(snap.filter(col("k") === 5).head.getLong(1) === 5000000000L)
    assert(snap.filter(col("k") === 399).head.getLong(1) === 1197L,
      "carried narrow rows upcast, values intact")
    assert(snap.count() === 400)
    // carried files stay physically INT — widening never rewrites
    val carried = Acid.readManifest(dir, 1).files.filter(_.path.startsWith("d0_init/"))
    assert(carried.nonEmpty && carried.forall(f =>
      spark.read.parquet(s"$dir/${f.path}").schema("v").dataType === IntegerType))
    // a SECOND merge with a narrow batch keeps writing at the declared
    // width (the sampled first file may be a narrow carried one)
    Acid.merge(spark, dir, Seq((300L, -1)).toDF("k", "v")
      .select(col("k"), col("v").cast("int").as("v")), "w2")
    val snap2 = Acid.snapshot(spark, dir)
    assert(snap2.schema("v").dataType === LongType)
    assert(snap2.filter(col("k") === 300).head.getLong(1) === -1L)
    assert(snap2.filter(col("k") === 5).head.getLong(1) === 5000000000L)
    // scanRange on the mixed-width table prunes and reads through
    val (df, scanned, total) = Acid.scanRange(spark, dir, 0L, 50L)
    assert(scanned < total && df.count() === 51)
    // an INCOMPATIBLE batch type refuses loudly
    val bad = Try(Acid.merge(spark, dir,
      Seq((7L, "oops")).toDF("k", "v"), "w3"))
    assert(bad.isFailure &&
      bad.failed.get.getMessage.contains("incompatible type"))
    assert(StringType !== null)
  }

  test("SQL scan prunes on string/date cstats like the library scanColRange") {
    import graft.sources.AcidSql
    val root = Scratch.fresh("r9_cstats_sql", sf)
    val cat = catFor("cs", root)
    val dir = s"$root/t"
    // 800 keys in 8 range files; code is k-monotone, odate ingestion-ordered
    val t = spark.range(800).select(col("id").as("k"),
      concat(lit("C"), lpad(col("id").cast("string"), 6, "0")).as("code"),
      date_add(to_date(lit("2024-01-01")), col("id").cast("int")).as("odate"),
      (col("id") * 3).as("v"))
    Acid.create(spark, dir, t, "k", 8)
    spark.sql(s"DROP TABLE IF EXISTS $cat.missing") // catalog init
    // string POINT lookup: one of 8 files
    val r1 = spark.sql(s"SELECT v FROM $cat.t WHERE code = 'C000500'").collect()
    assert(r1.map(_.getLong(0)).toSeq === Seq(1500L))
    val (s1, t1) = AcidSql.lastScanFor(dir)
    assert(t1 === 8 && s1 <= 2, s"string point lookup must prune: $s1/$t1")
    // date window: a quarter of the files
    val r2 = spark.sql(s"SELECT count(*) FROM $cat.t " +
      "WHERE odate BETWEEN DATE'2024-04-10' AND DATE'2024-05-09'").head
    assert(r2.getLong(0) === 30L)
    val (s2, t2) = AcidSql.lastScanFor(dir)
    assert(t2 === 8 && s2 <= 2, s"date window must prune: $s2/$t2")
    // prefix filter bounds the low side only — still a subset
    spark.sql(s"SELECT count(*) FROM $cat.t WHERE code LIKE 'C0007%'").head
    val (s3, t3) = AcidSql.lastScanFor(dir)
    assert(t3 === 8 && s3 <= 2, s"prefix filter must prune: $s3/$t3")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("V2 writer stamps cstats and round-trips DATE columns") {
    import graft.sources.AcidSql
    val root = Scratch.fresh("r9_w_cstats", sf)
    val cat = catFor("wc", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, code STRING, odate DATE, v BIGINT)")
    // two inserts with disjoint code/date ranges -> two files with stats
    spark.range(100).select(col("id").as("k"),
        concat(lit("A"), lpad(col("id").cast("string"), 4, "0")).as("code"),
        date_add(to_date(lit("2023-01-01")), col("id").cast("int")).as("odate"),
        (col("id") * 2).as("v"))
      .createOrReplaceTempView("r9_wc_lo")
    spark.range(100, 200).select(col("id").as("k"),
        concat(lit("B"), lpad(col("id").cast("string"), 4, "0")).as("code"),
        date_add(to_date(lit("2024-01-01")), col("id").cast("int")).as("odate"),
        (col("id") * 2).as("v"))
      .createOrReplaceTempView("r9_wc_hi")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM r9_wc_lo")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM r9_wc_hi")
    val dir = s"$root/t"
    val entries = Acid.readManifest(dir, Acid.latestVersion(dir)).files
    assert(entries.nonEmpty && entries.forall(f =>
      f.cstats.exists(_._1 == "code") && f.cstats.exists(_._1 == "odate")),
      s"SQL-inserted files must carry string AND date cstats: $entries")
    // DATE values round-trip through the V2 writer + readers
    assert(spark.sql(s"SELECT odate FROM $cat.t WHERE k = 5").head
      .getDate(0).toString === "2023-01-06")
    // and the scan prunes on the writer-stamped stats
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE code >= 'B'").head.getLong(0) === 100L)
    val (s1, t1) = AcidSql.lastScanFor(dir)
    assert(s1 < t1, s"writer-stamped string stats must prune: $s1/$t1")
    spark.sql(s"SELECT count(*) FROM $cat.t WHERE odate < DATE'2023-06-01'").head
    val (s2, t2) = AcidSql.lastScanFor(dir)
    assert(s2 < t2, s"writer-stamped date stats must prune: $s2/$t2")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("OPTIMIZE WHERE compacts only the key range; misuse refuses") {
    val dir = Scratch.fresh("r9_opt_where", sf)
    // 16 fragmented files over 0..1599
    val t = spark.range(1600).select(col("id").as("k"), (col("id") * 2).as("v"))
    Acid.create(spark, dir, t, "k", 16)
    val v0 = Acid.readManifest(dir, 0).files.map(_.path).toSet
    val r = spark.sql(s"OPTIMIZE '$dir' WHERE k BETWEEN 0 AND 399 TARGET 1 FILES").head
    assert(r.getLong(0) === 16 && r.getLong(1) <= 13,
      s"low quarter (4 of 16 files) must bin-pack: $r")
    // untouched entries carried forward byte-identical (same paths)
    val v1 = Acid.readManifest(dir, 1).files.map(_.path).toSet
    assert((v0 & v1).size === 12, "the 12 out-of-range files carry forward")
    assert(Acid.snapshot(spark, dir).count() === 1600)
    // WHERE must name the leading key; WHERE + ZORDER refuses
    assert(Try(spark.sql(s"OPTIMIZE '$dir' WHERE v BETWEEN 0 AND 9")).isFailure)
    assert(Try(spark.sql(
      s"OPTIMIZE '$dir' WHERE k BETWEEN 0 AND 9 ZORDER BY (v)")).isFailure)
  }

  test("SQL ALTER COLUMN TYPE widening: both V2 readers adapt, DML follows") {
    import org.apache.spark.sql.types.LongType
    val root = Scratch.fresh("r9_sql_widen", sf)
    val cat = catFor("sw", root)
    val dir = s"$root/t"
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.range(200).select(col("id").as("k"),
        (col("id") * 2).cast("int").as("v"))
      .createOrReplaceTempView("r9_sw_src")
    spark.sql(s"CREATE TABLE $cat.t AS SELECT k, v FROM r9_sw_src")
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN v TYPE BIGINT")
    // wide schema served before any wide file lands, values intact
    assert(spark.table(s"$cat.t").schema("v").dataType === LongType)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.t").head.getLong(0) === 39800L)
    // the library read agrees (readMerged upcast to the declared width)
    assert(Acid.snapshot(spark, dir).schema("v").dataType === LongType)
    // row-level DML over the widened narrow files: the rewrite scan uses
    // the V2 ROW reader (width-strict Group API before round 9)
    spark.sql(s"UPDATE $cat.t SET v = 6000000000 WHERE k = 7")
    assert(spark.sql(s"SELECT max(v) FROM $cat.t").head.getLong(0) === 6000000000L)
    spark.sql(s"DELETE FROM $cat.t WHERE k >= 190")
    assert(spark.table(s"$cat.t").count() === 190)
    // narrowing / cross-family / key widening all refuse
    assert(Try(spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN v TYPE INT")).isFailure)
    assert(Try(spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN v TYPE STRING")).isFailure)
    assert(Try(spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN k TYPE DOUBLE")).isFailure)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("disjoint-writer merge rebases metadata-only; true overlap refuses") {
    import spark.implicits._
    val dir = Scratch.fresh("r9_disjoint", sf)
    val t = spark.range(800).select(col("id").as("k"), (col("id") * 10).as("v"))
    Acid.create(spark, dir, t, "k", 8)
    val batchA = Seq((10L, -1L), (20L, -2L)).toDF("k", "v")
    val batchB = Seq((700L, -7L), (790L, -8L)).toDF("k", "v")
    val a = Acid.mergeAt(spark, dir, 0, batchA, "A")
    assert(a.exists(_.version == 1))
    // B from the stale base, disjoint key range: loses the race for v1,
    // lands v2 WITHOUT re-running — its d1_B files commit as written
    val b = Acid.mergeAt(spark, dir, 0, batchB, "B")
    assert(b.exists(_.version == 2))
    val v2 = Acid.readManifest(dir, 2).files
    assert(v2.exists(_.path.startsWith("d1_B")),
      "rebased commit must reference the originally staged files")
    // both writers' updates visible exactly once
    val snap = Acid.snapshot(spark, dir)
    assert(snap.count() === 800)
    assert(snap.filter(col("v") < 0).count() === 4)
    // C from the stale base touching the files A rewrote: REFUSED, not
    // silently rebased (lost-update protection)
    val batchC = Seq((10L, -100L)).toDF("k", "v")
    val c = Acid.mergeAt(spark, dir, 0, batchC, "C")
    assert(c.isLeft && c.swap.exists(_.contains("overlap conflict")))
    // concurrent APPEND inside the batch key range also refuses: the
    // merge's matched/unmatched classification could be stale
    val dd = "d_append_x"
    Seq((750L, 5L)).toDF("k", "v").coalesce(1).write.parquet(s"$dir/$dd")
    val part = {
      val ls = Files.list(Paths.get(dir, dd))
      try ls.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
      finally ls.close()
    }
    val rel = s"$dd/${Paths.get(part).getFileName}"
    assert(Acid.appendCommit(dir, Seq(Acid.FileEntry(rel, 1L, 750L, 750L))) === 3)
    val e = Acid.mergeAt(spark, dir, 2, batchB, "E")
    assert(e.isLeft && e.swap.exists(_.contains("overlap conflict")),
      "an interleaved append inside the batch range must refuse the rebase")
  }

  test("V2 scan reports prune-aware statistics; small ACID dims broadcast") {
    val root = Scratch.fresh("r9_rstats", sf)
    val cat = catFor("rs", root)
    val dir = s"$root/t"
    val dim = spark.range(1000).select(col("id").as("k"), (col("id") * 3).as("v"))
    Acid.create(spark, dir, dim, "k", 4)
    val m = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m.files.nonEmpty && m.files.forall(_.bytes > 0L),
      "library create stamps file bytes")

    def leaf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
          r.stats
      }.head
    val full = spark.read.table(s"$cat.t")
    val fs = leaf(full)
    assert(fs.sizeInBytes === BigInt(m.files.map(_.bytes).sum),
      "leaf stats equal the manifest byte sum exactly")
    assert(fs.rowCount.contains(BigInt(1000)))
    // a point lookup prunes to 1 of 4 range files -> the reported
    // statistics shrink with the pruning (filter-aware sizeInBytes)
    val ps = leaf(full.filter(col("k") === lit(999L)))
    assert(ps.sizeInBytes > 0 && ps.sizeInBytes < fs.sizeInBytes)
    assert(ps.rowCount.exists(_ <= BigInt(250)))
    // static planner: the ACID scan must be the BHJ build side — only
    // possible because the scan reports its true (small) size; an
    // unreported V2 scan sizes at defaultSizeInBytes and never builds
    val fact = spark.range(100000).select(col("id").as("fk"))
    val j = fact.join(full, col("fk") === col("k")).groupBy().count()
    val acidBuild = j.queryExecution.sparkPlan.collectFirst {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
        val build =
          if (b.buildSide == org.apache.spark.sql.catalyst.optimizer.BuildRight)
            b.right
          else b.left
        build.exists {
          case sc: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
            sc.scan.isInstanceOf[graft.sources.AcidSqlScan]
          case _ => false
        }
    }.getOrElse(false)
    assert(acidBuild, "ACID side is the broadcast build side")
    // the V2 writer stamps bytes on its staged files too
    spark.sql(s"INSERT INTO $cat.t VALUES (CAST(2000 AS BIGINT), CAST(1 AS BIGINT))")
    val m2 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val added = m2.files.filterNot(m.files.toSet)
    assert(added.nonEmpty && added.forall(_.bytes > 0L),
      "V2 INSERT stamps file bytes")
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("table stream admission control caps added files per micro-batch") {
    val root = Scratch.fresh("r9_ratelimit", sf)
    val dir = s"$root/t"
    val t = spark.range(800).select(col("id").as("k"), (col("id") * 2).as("v"))
    Acid.create(spark, dir, t, "k", 8)
    (1 to 4).foreach { i =>
      val dd = s"d_rl_$i"
      spark.range(1).select(lit(1000L + i).as("k"), lit(0L).as("v"))
        .coalesce(1).write.parquet(s"$dir/$dd")
      val part = {
        val ls = Files.list(Paths.get(dir, dd))
        try ls.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        finally ls.close()
      }
      val rel = s"$dd/${Paths.get(part).getFileName}"
      assert(Acid.appendCommit(dir,
        Seq(Acid.FileEntry(rel, 1L, 1000L + i, 1000L + i,
          bytes = Files.size(Paths.get(dir, rel))))) === i)
    }
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val sch = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("v", "long")
    val stream = new graft.sources.AcidSqlMicroBatchStream(dir, sch, Some(2))
    def off(v: Long) = graft.sources.AcidVersionOffset(v)
    val lim = stream.getDefaultReadLimit
    // v0 has 8 files — over the cap, but a version is the atomicity
    // unit, so the first batch takes exactly v0 and stops there
    assert(stream.latestOffset(off(-1), lim) === off(0))
    // then two single-file versions per batch
    assert(stream.latestOffset(off(0), lim) === off(2))
    assert(stream.latestOffset(off(2), lim) === off(4))
    assert(stream.latestOffset(off(4), lim) === off(4), "caught up")
    assert(stream.latestOffset(off(-1), ReadLimit.allAvailable()) === off(4),
      "no cap -> everything in one batch")
    // bytes budget: cap = one single-row file's stamped size, so each
    // batch admits exactly one of the v1..v4 commits
    val m4 = Acid.readManifest(dir, 4)
    val oneFile = m4.files.filter(_.path.startsWith("d_rl_")).map(_.bytes).max
    assert(oneFile > 0L, "appendCommit entries carry no bytes? stamp them in the test")
    val byBytes = new graft.sources.AcidSqlMicroBatchStream(dir, sch,
      maxBytesPerTrigger = Some(oneFile))
    val bLim = byBytes.getDefaultReadLimit
    assert(byBytes.latestOffset(off(0), bLim) === off(1))
    assert(byBytes.latestOffset(off(1), bLim) === off(2))
  }

  test("vacuum grace spares young orphans; SQL RETAIN HOURS wires the grace") {
    val root = Scratch.fresh("r9_vac_grace", sf)
    val dir = s"$root/t"
    val t = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
    Acid.create(spark, dir, t, "k", 2)
    def stage(dd: String): String = {
      spark.range(1).select(lit(500L).as("k"), lit(0L).as("v"))
        .coalesce(1).write.parquet(s"$dir/$dd")
      val ls = Files.list(Paths.get(dir, dd))
      val part =
        try ls.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        finally ls.close()
      s"$dd/${Paths.get(part).getFileName}"
    }
    val freshO = stage("d_fresh")
    val agedO = stage("d_aged")
    Files.setLastModifiedTime(Paths.get(dir, agedO),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 48L * 3600 * 1000))
    // dry run: grace counts only the aged orphan; graceless counts both
    assert(Acid.vacuum(spark, dir, 0, dryRun = true, graceMs = 3600000L)._1 === 1)
    assert(Acid.vacuum(spark, dir, 0, dryRun = true)._1 === 2)
    // SQL RETAIN n HOURS wires the same horizon in as the orphan grace
    spark.sql(s"VACUUM '$dir' RETAIN 1 HOURS").collect()
    assert(Files.exists(Paths.get(dir, freshO)),
      "in-flight staged file survives the graced vacuum")
    assert(!Files.exists(Paths.get(dir, agedO)), "aged orphan reclaimed")
  }

  test("days(ts) partition transform: one-day files, predicate-derived pruning") {
    val root = Scratch.fresh("r9_pdays", sf)
    val cat = catFor("pd", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    // 10 days x 5 rows, timestamps inside the day
    spark.range(50).coalesce(1).selectExpr("id AS k",
      "timestamp_micros(CAST(1704067200000000 + (id % 10) * 86400000000 + id * 1000000 AS BIGINT)) AS ts",
      "id * 7 AS v")
      .createOrReplaceTempView("r9_pdays_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT k, ts, v FROM r9_pdays_src")
    val m = Acid.readManifest(s"$root/ev", Acid.latestVersion(s"$root/ev"))
    // every file is stamped one epoch-day wide under the transform label
    assert(m.files.nonEmpty && m.files.forall(_.stats2.exists {
      case (c, lo2, hi2) => c == "days(ts)" && lo2 == hi2
    }), s"one-day stats2 per file, got ${m.files.map(_.stats2)}")
    assert(m.files.map(_.stats2.get._2).distinct.size == 10, "10 day files")
    // a 3-day window plans exactly 3 files; the predicate names only ts
    val win = "ts >= TIMESTAMP'2024-01-03 00:00:00' AND " +
      "ts < TIMESTAMP'2024-01-06 00:00:00'"
    val got = spark.sql(s"SELECT sum(v) FROM $cat.ev WHERE $win").head.getLong(0)
    val (scanned, total) = graft.sources.AcidSql.lastScanFor(s"$root/ev")
    assert(total == 10 && scanned == 3, s"pruned $scanned/$total, want 3/10")
    val want = spark.sql(s"SELECT sum(v) FROM r9_pdays_src WHERE $win").head.getLong(0)
    assert(got === want)
    // timestamps round-trip exactly through the V2 writer+readers
    val back = spark.sql(s"SELECT ts FROM $cat.ev ORDER BY k").collect().map(_.getTimestamp(0))
    val src = spark.sql("SELECT ts FROM r9_pdays_src ORDER BY k").collect().map(_.getTimestamp(0))
    assert(back.toSeq === src.toSeq)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
  }

  test("bucket(n,k) partition transform: hash-bucket files, point-probe pruning") {
    val root = Scratch.fresh("r9_pbkt", sf)
    val cat = catFor("pb", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.bt")
    spark.sql(s"""CREATE TABLE $cat.bt (k BIGINT, v BIGINT)
                 |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.range(400).coalesce(1).selectExpr("id AS k", "id * 3 AS v")
      .createOrReplaceTempView("r9_pbkt_src")
    spark.sql(s"INSERT INTO $cat.bt SELECT k, v FROM r9_pbkt_src")
    val m = Acid.readManifest(s"$root/bt", Acid.latestVersion(s"$root/bt"))
    val buckets = m.files.flatMap(_.stats2).map { case (c, lo2, hi2) =>
      assert(c == "bucket(4,k)" && lo2 == hi2 && lo2 >= 0 && lo2 < 4); lo2
    }
    assert(buckets.distinct.size == 4, s"4 bucket files, got $buckets")
    // hash scatter: every bucket file spans nearly the full key range, so
    // min/max could never prune a point probe — the bucket tier does
    assert(m.files.forall(f => f.maxKey - f.minKey > 200))
    val got = spark.sql(s"SELECT v FROM $cat.bt WHERE k = 137").head.getLong(0)
    val (scanned, total) = graft.sources.AcidSql.lastScanFor(s"$root/bt")
    assert(total == 4 && scanned == 1, s"pruned $scanned/$total, want 1/4")
    assert(got === 411L)
    // a RANGE predicate on k correctly prunes nothing (hash layout)
    assert(spark.sql(s"SELECT count(*) FROM $cat.bt WHERE k >= 100 AND k < 200")
      .head.getLong(0) === 100L)
    assert(graft.sources.AcidSql.lastScanFor(s"$root/bt")._1 === 4)
    spark.sql(s"DROP TABLE IF EXISTS $cat.bt")
  }

  test(".partitions metadata table and partition-scoped OPTIMIZE") {
    val root = Scratch.fresh("r9_optp", sf)
    val cat = catFor("op", root)
    spark.sql(s"DROP TABLE IF EXISTS $cat.bt")
    spark.sql(s"""CREATE TABLE $cat.bt (k BIGINT, v BIGINT)
                 |PARTITIONED BY (bucket(4, k))""".stripMargin)
    spark.range(200).coalesce(1).selectExpr("id AS k", "id AS v")
      .createOrReplaceTempView("r9_optp_src")
    (1 to 3).foreach(_ =>
      spark.sql(s"INSERT INTO $cat.bt SELECT k, v FROM r9_optp_src"))
    val before = spark.read.table(s"$cat.bt.partitions").collect()
    assert(before.length === 4, s"4 bucket rows, got ${before.toSeq}")
    assert(before.forall(r => r.getAs[Long]("n_files") === 3L &&
      r.getAs[String]("transform") == "bucket(4,k)" &&
      r.getAs[Long]("bytes") > 0L))
    assert(before.map(_.getAs[Long]("rows")).sum === 600L)
    val sumBefore = spark.sql(s"SELECT sum(v) FROM $cat.bt").head.getLong(0)
    // compaction: every value bin-packs to one file, stats pin preserved
    val r = spark.sql(s"OPTIMIZE $cat.bt PARTITIONS").head
    assert(r.getLong(0) === 12L && r.getLong(1) === 4L,
      s"12 files -> 4, got $r")
    val after = spark.read.table(s"$cat.bt.partitions").collect()
    assert(after.length === 4 && after.forall(_.getAs[Long]("n_files") === 1L))
    assert(after.map(_.getAs[Long]("rows")).sum === 600L)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.bt").head.getLong(0) === sumBefore)
    // the hash layout still prunes point probes after compaction
    spark.sql(s"SELECT count(*) FROM $cat.bt WHERE k = 57").head
    assert(graft.sources.AcidSql.lastScanFor(s"$root/bt") === ((1, 4)))
    // refusals: PARTITIONS composes with nothing; untransformed dirs refuse
    assert(Try(spark.sql(s"OPTIMIZE $cat.bt PARTITIONS ZORDER BY (v)")).isFailure)
    val plain = Scratch.fresh("r9_optp_plain", sf) + "/t"
    Acid.create(spark, plain,
      spark.range(10).selectExpr("id AS k", "id AS v"), "k", 2)
    assert(Try(Acid.optimizePartitions(spark, plain)).isFailure)
    spark.sql(s"DROP TABLE IF EXISTS $cat.bt")
  }

  test("WAP branches: isolation, constraint on staging, conflicts, drop+vacuum") {
    val root = Scratch.fresh("r9_wap", sf)
    val dir = s"$root/t"
    import spark.implicits._
    Acid.create(spark, dir,
      spark.range(100).selectExpr("id AS k", "id * 2 AS v"), "k", 2)
    Acid.setConstraint(spark, dir, Some("v >= 0"))
    Acid.createBranch(spark, dir, "b1")
    assert(Try(Acid.createBranch(spark, dir, "b1")).isFailure,
      "duplicate branch name refuses")
    // the base constraint still enforces on STAGED writes — the audit
    // flow validates contracts, it doesn't suspend them
    assert(Try(Acid.writeToBranch(spark, dir, "b1",
      Seq((200L, -5L)).toDF("k", "v"))).isFailure)
    Acid.writeToBranch(spark, dir, "b1", Seq((200L, 7L)).toDF("k", "v"))
    assert(Acid.snapshot(spark, dir).count() === 100,
      "main readers never see un-audited rows")
    assert(Acid.snapshotBranch(spark, dir, "b1").count() === 101)
    // main advances past the base -> the audit is stale, publish refuses
    assert(!Acid.merge(spark, dir, Seq((5L, 500L)).toDF("k", "v"), "w").skipped)
    val pub = Acid.publishBranch(spark, dir, "b1")
    assert(pub.isLeft && pub.swap.exists(_.contains("publish conflict")))
    // drop: the staged files become orphans and a graceless vacuum
    // reclaims them (plus the constraint-violating attempt's stage)
    Acid.dropBranch(dir, "b1")
    // retain only the merge result (v2 — setConstraint committed v1):
    // the dropped branch's staged file AND the merge-replaced original
    // are now unreferenced, and a graceless vacuum reclaims both
    val (deleted, _) = Acid.vacuum(spark, dir, 2)
    assert(deleted >= 2, s"staged + replaced orphans reclaimed, got $deleted")
    assert(Try(Acid.snapshotBranch(spark, dir, "b1")).isFailure)
    // tag retention: pre-vacuum versions pinned by tag stay readable
    val dir2 = s"$root/t2"
    Acid.create(spark, dir2,
      spark.range(50).selectExpr("id AS k", "id AS v"), "k", 2)
    assert(!Acid.merge(spark, dir2, Seq((1L, 99L)).toDF("k", "v"), "w").skipped)
    Acid.tagVersion(dir2, "rel", 0)
    Acid.vacuum(spark, dir2, 1)
    assert(Acid.snapshotTag(spark, dir2, "rel").count() === 50,
      "tagged version survives the vacuum horizon")
    assert(Try(Acid.tagVersion(dir2, "rel", 1)).isFailure, "duplicate tag refuses")
  }

  test("library merges on days-partitioned tables re-stamp transform stats") {
    val root = Scratch.fresh("r9_restamp", sf)
    val cat = catFor("rs2", root)
    val dir = s"$root/ev"
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
    spark.sql(s"""CREATE TABLE $cat.ev (k BIGINT, ts TIMESTAMP, v BIGINT)
                 |PARTITIONED BY (days(ts))""".stripMargin)
    // 10 days x 5 rows, keys contiguous per day (time-ordered ingest)
    spark.range(50).coalesce(1).selectExpr("id AS k",
      "timestamp_micros(CAST(1704067200000000 + (id DIV 5) * 86400000000 + id * 1000000 AS BIGINT)) AS ts",
      "id AS v")
      .createOrReplaceTempView("r9_restamp_src")
    spark.sql(s"INSERT INTO $cat.ev SELECT k, ts, v FROM r9_restamp_src")
    val m0 = Acid.readManifest(dir, Acid.latestVersion(dir))
    assert(m0.files.size === 10)
    // LIBRARY merge updating day-0 keys: the rewrite re-stamps the new
    // files' days(ts) range instead of dropping the partition stats
    val batch = spark.range(3).select(col("id").as("k"),
      expr("timestamp_micros(CAST(1704067200000000 + id * 1000000 AS BIGINT))").as("ts"),
      lit(999L).as("v"))
    assert(!Acid.merge(spark, dir, batch, "w").skipped)
    val m1 = Acid.readManifest(dir, Acid.latestVersion(dir))
    val rewritten = m1.files.filterNot(m0.files.toSet)
    assert(rewritten.nonEmpty)
    assert(rewritten.forall(_.stats2.exists { case (c, lo2, hi2) =>
      c == "days(ts)" && lo2 <= hi2 }),
      s"rewritten files carry ranged days(ts) stats2: ${rewritten.map(_.stats2)}")
    // pruning stays sharp after the merge: a 3-day window away from the
    // rewrite still plans a strict subset
    val win = "ts >= TIMESTAMP'2024-01-06 00:00:00' AND " +
      "ts < TIMESTAMP'2024-01-09 00:00:00'"
    val got = spark.sql(s"SELECT sum(v) FROM $cat.ev WHERE $win").head.getLong(0)
    val (scanned, total) = graft.sources.AcidSql.lastScanFor(dir)
    assert(scanned <= 3 && total === m1.files.size,
      s"post-merge window pruned $scanned/$total")
    assert(got === (25 until 40).sum.toLong)
    // and the merge result itself reads correctly
    assert(spark.sql(s"SELECT sum(v) FROM $cat.ev WHERE k < 3").head.getLong(0) === 3 * 999L)
    spark.sql(s"DROP TABLE IF EXISTS $cat.ev")
  }

  test("ref-namespace and retention edges: tag survives branch drop, base pinned, caps compose") {
    val root = Scratch.fresh("r9_refedge", sf)
    val dir = s"$root/t"
    import spark.implicits._
    Acid.create(spark, dir,
      spark.range(60).selectExpr("id AS k", "id AS v"), "k", 2)
    // a tag and a branch sharing a name are independent refs: dropping
    // the branch must not destroy the pinned snapshot
    Acid.tagVersion(dir, "rel", 0)
    Acid.createBranch(spark, dir, "rel")
    Acid.dropBranch(dir, "rel")
    assert(Acid.tagVersionOf(dir, "rel") === 0, "tag survives same-name branch drop")
    // an UN-WRITTEN branch pins its base: vacuum past it keeps the base
    // manifest and files, so the branch stays usable
    Acid.createBranch(spark, dir, "audit")
    assert(!Acid.merge(spark, dir, Seq((1L, 99L)).toDF("k", "v"), "w").skipped)
    Acid.vacuum(spark, dir, 1)
    assert(Acid.snapshotBranch(spark, dir, "audit").count() === 60L,
      "empty branch resolves from its retained base after vacuum")
    Acid.writeToBranch(spark, dir, "audit", Seq((100L, 5L)).toDF("k", "v"))
    assert(Acid.snapshotBranch(spark, dir, "audit").count() === 61L)
    // tagging an unresolvable (vacuumed) version refuses at creation
    val dir2 = s"$root/t2"
    Acid.create(spark, dir2,
      spark.range(10).selectExpr("id AS k", "id AS v"), "k", 1)
    assert(!Acid.merge(spark, dir2, Seq((1L, 7L)).toDF("k", "v"), "w").skipped)
    Acid.vacuum(spark, dir2, 1)
    assert(Try(Acid.tagVersion(dir2, "dead", 0)).isFailure,
      "dead tag refused at creation")
    // maxFiles + maxBytes COMPOSE: the tighter budget ends the batch
    val dir3 = s"$root/t3"
    Acid.create(spark, dir3,
      spark.range(40).selectExpr("id AS k", "id AS v"), "k", 2)
    (1 to 3).foreach { i =>
      val dd = s"d_c_$i"
      spark.range(1).select(lit(100L + i).as("k"), lit(0L).as("v"))
        .coalesce(1).write.parquet(s"$dir3/$dd")
      val ls = Files.list(Paths.get(dir3, dd))
      val part =
        try ls.toArray.map(_.toString).filter(_.endsWith(".parquet")).head
        finally ls.close()
      val rel = s"$dd/${Paths.get(part).getFileName}"
      Acid.appendCommit(dir3, Seq(Acid.FileEntry(rel, 1L, 100L + i, 100L + i,
        bytes = Files.size(Paths.get(dir3, rel))))): Unit
    }
    val one = Acid.readManifest(dir3, 3).files
      .filter(_.path.startsWith("d_c_")).map(_.bytes).max
    val sch = new org.apache.spark.sql.types.StructType()
      .add("k", "long").add("v", "long")
    // generous file cap, one-file byte cap -> bytes are the binding
    // budget and each batch admits exactly one of the small commits
    val st = new graft.sources.AcidSqlMicroBatchStream(dir3, sch,
      maxFilesPerTrigger = Some(100), maxBytesPerTrigger = Some(one))
    def off(v: Long) = graft.sources.AcidVersionOffset(v)
    assert(st.latestOffset(off(0), st.getDefaultReadLimit) === off(1),
      "composite limit applies the byte budget, not just maxFiles")
  }

  test("mergeBranch prunes touched files and upserts on the branch only") {
    val root = Scratch.fresh("r9_brmerge", sf)
    val dir = s"$root/t"
    import spark.implicits._
    Acid.create(spark, dir,
      spark.range(100).selectExpr("id AS k", "id AS v"), "k", 4)
    Acid.createBranch(spark, dir, "b")
    def nParquet: Int = {
      val w = Files.walk(Paths.get(dir))
      try w.toArray.map(_.toString).count(_.endsWith(".parquet"))
      finally w.close()
    }
    val n0 = nParquet
    // pure insert beyond every file range: stages new data, rewrites NO
    // base file (the broadcast range-join prunes touched to zero)
    Acid.mergeBranch(spark, dir, "b", Seq((500L, 1L)).toDF("k", "v"))
    assert(nParquet === n0 + 1, "out-of-range insert stages one file only")
    assert(Acid.snapshotBranch(spark, dir, "b").count() === 101L)
    // upsert on one key rewrites only its file; main stays blind
    Acid.mergeBranch(spark, dir, "b", Seq((10L, -1L)).toDF("k", "v"))
    val br = Acid.snapshotBranch(spark, dir, "b")
    assert(br.count() === 101L)
    assert(br.filter(col("k") === 10).head.getLong(1) === -1L)
    assert(Acid.snapshot(spark, dir).filter(col("k") === 10).head.getLong(1) === 10L,
      "main blind to the branch upsert")
    assert(Acid.publishBranch(spark, dir, "b").isRight)
    val main = Acid.snapshot(spark, dir)
    assert(main.count() === 101L)
    assert(main.filter(col("k") === 10).head.getLong(1) === -1L)
  }

  test("branch/tag SQL statements mirror the library refs") {
    val root = Scratch.fresh("r9_wap_sql", sf)
    val cat = catFor("ws", root)
    val dir = s"$root/t"
    import spark.implicits._
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
    spark.sql(s"CREATE TABLE $cat.t (k BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t VALUES (CAST(1 AS BIGINT), CAST(10 AS BIGINT))")
    assert(spark.sql(s"CREATE BRANCH wap ON $cat.t").head.getLong(0) === 1L)
    Acid.writeToBranch(spark, dir, "wap", Seq((2L, 20L)).toDF("k", "v"))
    assert(spark.table(s"$cat.t").count() === 1L, "main blind to the branch")
    assert(spark.sql(s"PUBLISH BRANCH wap ON $cat.t").head.getLong(0) === 2L)
    assert(spark.table(s"$cat.t").count() === 2L)
    // re-publish after main moved: the library Left surfaces as an error
    assert(Try(spark.sql(s"PUBLISH BRANCH wap ON $cat.t").collect()).isFailure)
    assert(spark.sql(s"CREATE TAG rel ON $cat.t AS OF VERSION 1").head.getLong(0) === 1L)
    assert(Acid.tagVersionOf(dir, "rel") === 1)
    spark.sql(s"DROP BRANCH wap ON $cat.t").collect()
    assert(Try(Acid.branchBase(dir, "wap")).isFailure)
    spark.sql(s"DROP TABLE IF EXISTS $cat.t")
  }

  test("round-9b fixture rows run end-to-end with true booleans") {
    val r1 = Acid.queries("tbl_part_days")(spark, sf).head
    assert(r1.getAs[Boolean]("pruned") && r1.getAs[Boolean]("partitioning_reported"),
      s"tbl_part_days: $r1")
    val r2 = Acid.queries("tbl_part_bucket")(spark, sf).head
    assert(r2.getAs[Boolean]("bucket_pruned"), s"tbl_part_bucket: $r2")
    val r3 = Acid.queries("tbl_vacuum_grace")(spark, sf).head
    assert(r3.getAs[Boolean]("fresh_survived") && r3.getAs[Boolean]("old_deleted"),
      s"tbl_vacuum_grace: $r3")
    val r4 = Acid.queries("tbl_report_stats")(spark, sf).head
    assert(r4.getAs[Boolean]("stats_exact") && r4.getAs[Boolean]("pruned_smaller") &&
      r4.getAs[Boolean]("acid_broadcast"), s"tbl_report_stats: $r4")
    val r5 = Acid.queries("tbl_optimize_partitions")(spark, sf).head
    assert(r5.getAs[Boolean]("compacted") && r5.getAs[Boolean]("stats_preserved") &&
      r5.getAs[Boolean]("probe_pruned"), s"tbl_optimize_partitions: $r5")
    val r6 = Acid.queries("tbl_partitions_meta")(spark, sf).collect()
    assert(r6.length === 5 && r6.forall(r => r.getAs[Boolean]("files_positive") &&
      r.getAs[Boolean]("bytes_positive")), s"tbl_partitions_meta: ${r6.toSeq}")
    val r7 = Acid.queries("tbl_branch_wap")(spark, sf).head
    assert(Seq("main_isolated", "audit_passed", "published", "v0_intact",
      "republish_refused", "tag_survives_vacuum")
      .forall(r7.getAs[Boolean](_)), s"tbl_branch_wap: $r7")
    val r8 = Acid.queries("tbl_branch_merge")(spark, sf).collect()
    assert(r8.nonEmpty && r8.forall(r =>
      Seq("main_isolated", "audit_passed", "published")
        .forall(r.getAs[Boolean](_))), s"tbl_branch_merge: ${r8.toSeq}")
  }

  test("st_stream_ratelimit fixture lands three bounded batches end-to-end") {
    val df = graft.streaming.Streaming.queries("st_stream_ratelimit")(spark, sf)
    val r = df.head
    assert(r.getAs[Long]("n_batches") === 3L,
      "AvailableNow catch-up under maxFilesPerTrigger=2 is v0 | v1+v2 | v3+v4")
    assert(r.getAs[Boolean]("rate_limited"))
  }
}
