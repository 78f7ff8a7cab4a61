package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{Scratch, TestSpark}

/** The SQL/V2 read surface decodes every Parquet file through one reader,
  * Spark's vectorized one (`AcidSqlColumnarReader`): catalog and format
  * scans, `_file` scans, `count(*)`, deletion-vector-masked scans and the
  * change feed. Each result is compared with the library's own read of
  * the same table (`Acid.snapshot`, `Acid.changeFeed`) over column types
  * a per-type row conversion is prone to lose.
  */
class SqlReadSpec extends AnyFunSuite {
  import TestSpark._

  private def catalog(tag: String): (String, String) = {
    val root = Scratch.fresh(tag, sf)
    spark.conf.set(s"spark.sql.catalog.$tag", "graft.sources.AcidCatalog")
    spark.conf.set(s"spark.sql.catalog.$tag.root", root)
    (tag, root)
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** The leading BIGINT of a rendered row. */
  private def key(row: String): Long =
    row.stripPrefix("[").takeWhile(_ != ',').toLong

  test("change feed over DATE, TIMESTAMP, FLOAT, SMALLINT, DECIMAL, STRUCT and ARRAY equals Acid.changeFeed") {
    val (cat, root) = catalog("sqlread_cdf")
    val dir = s"$root/t"
    def rows(ids: DataFrame, bump: Int) = {
      val id = col("id")
      def orNull(c: org.apache.spark.sql.Column) = when(id % 11 =!= 0, c)
      ids.select(id.as("k"),
        orNull(date_add(lit("2024-01-01").cast("date"), (id + bump).cast("int"))).as("d"),
        orNull(timestamp_seconds(id * 3600 + bump)).as("ts"),
        orNull((id * 0.5 + bump).cast("float")).as("f"),
        orNull(((id * 37 + bump) % 30000).cast("smallint")).as("sh"),
        orNull((id * 1.25 + bump).cast("decimal(10,2)")).as("dec"),
        orNull(struct((id * 3 + bump).as("a"), concat(lit("s"), id.cast("string")).as("b")))
          .as("st"),
        orNull(array(id.cast("int"), (id + bump).cast("int"))).as("arr"))
    }
    Acid.create(spark, dir, rows(spark.range(200L).toDF(), 0), "k", 4)
    val v0 = Acid.latestVersion(dir)
    // updates (k % 5 == 0 below 100) and inserts (200..209), then deletes
    Acid.merge(spark, dir,
      rows(spark.range(0L, 100L, 5L).toDF().union(spark.range(200L, 210L).toDF()), 1),
      "u", writeCdf = true)
    Acid.deleteWhere(spark, dir, col("k") % 7 === 3, None, "d", writeCdf = true)
    val v2 = Acid.latestVersion(dir)
    assert(v2 === v0 + 2)

    // the library's pair-shaped feed, unpaired into the Delta-shaped rows
    val data = Seq("k", "d", "ts", "f", "sh", "dec", "st", "arr")
    def unpaired(v: Int): DataFrame = {
      val cf = Acid.changeFeed(spark, dir, v - 1, v)
      def side(kind: String, prefix: String, changeType: String) =
        cf.filter(col("change_type") === kind).select(
          data.map(c => if (c == "k") col("k") else col(s"${prefix}_$c").as(c)) ++
            Seq(lit(changeType).as("_change_type"), lit(v.toLong).as("_commit_version")): _*)
      side("insert", "new", "insert")
        .union(side("delete", "old", "delete"))
        .union(side("update", "old", "update_preimage"))
        .union(side("update", "new", "update_postimage"))
    }
    val want = sorted(unpaired(v0 + 1).union(unpaired(v2)))
    assert(want.count(_.contains(",insert,")) === 10)
    // the all-NULL rows (k % 11 == 0) update to themselves: no change row
    assert(want.count(_.contains(",update_preimage,")) ===
      (0 until 100 by 5).count(_ % 11 != 0))
    assert(want.count(_.contains(",delete,")) === 30)
    // every declared type carries a value on each row written without NULLs
    assert(want.filter(key(_) % 11 != 0).forall(!_.contains("null")))

    val viaOption = spark.read.format("graft-acid-sql")
      .option("readChangeFeed", "true").option("startingVersion", v0.toString)
      .load(dir).select((data ++ Seq("_change_type", "_commit_version")).map(col): _*)
    assert(sorted(viaOption) === want)
    val viaChanges = spark.read.option("startingVersion", v0.toString)
      .table(s"$cat.t.changes")
      .select((data ++ Seq("_change_type", "_commit_version")).map(col): _*)
    assert(sorted(viaChanges) === want)
    // a pruned projection unpairs the same rows
    assert(sorted(spark.sql(s"SELECT k, dec, _change_type FROM $cat.t.changes")) ===
      sorted(unpaired(v0 + 1).union(unpaired(v2)).select("k", "dec", "_change_type")))
  }

  test("catalog SELECT over TINYINT, SMALLINT, DECIMAL and BINARY equals Acid.snapshot: plain, _file, count(*), key and positional DVs") {
    val (cat, root) = catalog("sqlread_types")
    val id = col("id")
    def orNull(c: org.apache.spark.sql.Column) = when(id % 13 =!= 0, c)
    val src = spark.range(300L).select(id.as("k"),
      orNull((id % 100).cast("tinyint")).as("tn"),
      orNull((id * 37 % 30000).cast("smallint")).as("sh"),
      orNull((id * 1.25).cast("decimal(10,2)")).as("dec"),
      orNull(concat(lit("b"), id.cast("string")).cast("binary")).as("bin"))
    Seq("t", "tp", "td").foreach(t => Acid.create(spark, s"$root/$t", src, "k", 4))

    def norm(df: DataFrame): Seq[String] =
      sorted(df.selectExpr("k", "tn", "sh", "dec", "hex(bin) AS bin"))
    def same(t: String): Int = {
      val dir = s"$root/$t"
      val want = norm(Acid.snapshot(spark, dir))
      assert(want.filter(key(_) % 13 != 0).forall(!_.contains("null")))
      assert(norm(spark.sql(s"SELECT * FROM $cat.$t")) === want)
      assert(norm(spark.read.format("graft-acid-sql").load(dir)) === want)
      // `_file` is the absolute path of the manifest file holding the row
      val withFile = spark.sql(s"SELECT k, tn, sh, dec, bin, _file FROM $cat.$t")
      assert(norm(withFile) === want)
      val entries = Acid.readManifest(dir, Acid.latestVersion(dir)).files
        .map(f => s"$dir/${f.path}" -> f).toMap
      val placed = withFile.select("k", "_file").collect()
      assert(placed.forall { r =>
        entries.get(r.getString(1)).exists(f =>
          r.getLong(0) >= f.minKey && r.getLong(0) <= f.maxKey)
      }, "every row's _file must name the manifest file whose key range holds it")
      if (entries.values.forall(f => f.dv.isEmpty && f.pdv.isEmpty))
        assert(placed.groupBy(_.getString(1)).view.mapValues(_.length).toMap ===
          entries.map { case (p, f) => p -> f.rows.toInt })
      assert(spark.sql(s"SELECT count(*) FROM $cat.$t").head.getLong(0) ===
        want.size.toLong)
      want.size
    }

    assert(same("t") === 300)
    assert(same("tp") === 300)
    Acid.deleteWhereMor(spark, s"$root/t", col("k") % 7 === 3, None, "w")
    assert(Acid.readManifest(s"$root/t", Acid.latestVersion(s"$root/t"))
      .files.exists(_.dv.isDefined))
    assert(same("t") === 300 - (0 until 300).count(_ % 7 == 3))
    Acid.deleteWherePositional(spark, s"$root/tp", col("k") % 5 === 1, None, "w")
    assert(Acid.readManifest(s"$root/tp", Acid.latestVersion(s"$root/tp"))
      .files.exists(_.pdv.isDefined))
    assert(same("tp") === 300 - (0 until 300).count(_ % 5 == 1))

    // EXISTS defaults of the new types fill files that predate the column
    spark.sql(s"ALTER TABLE $cat.td ADD COLUMN dd DECIMAL(10,2) DEFAULT 1.25")
    spark.sql(s"ALTER TABLE $cat.td ADD COLUMN bb BINARY DEFAULT X'CAFE'")
    val r = spark.sql(s"SELECT count(*), count(dd), min(dd), max(dd), " +
      s"min(hex(bb)), max(hex(bb)) FROM $cat.td").head
    assert(r.getLong(0) === 300L && r.getLong(1) === 300L)
    assert(r.getDecimal(2) === new java.math.BigDecimal("1.25") &&
      r.getDecimal(3) === new java.math.BigDecimal("1.25"))
    assert(r.getString(4) === "CAFE" && r.getString(5) === "CAFE")
  }
}
