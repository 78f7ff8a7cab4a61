package loopbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Acid

/** A keyed `(k, v, tag)` table driven through the `Acid` API and checked
  * against a driver-side model. */
final class KvTable(c: Ctx, val name: String) {
  val dir: String = c.dirOf(name)
  val sqlName = s"${c.catalog}.$name"
  val model = new KvModel
  /** Files scanned and files planned over every pruned read. */
  var scanned, planned = 0L

  def create(rows: Array[(Long, Long)], files: Int): Unit = {
    c.span("acid.create")(Acid.create(c.spark, dir, frame(rows.toSeq, "init"), "k", files))
    model.upsert(rows)
  }

  def frame(rows: Seq[(Long, Long)], tag: String): DataFrame =
    c.spark.createDataFrame(
      c.spark.sparkContext.parallelize(rows.map { case (k, v) => Row(k, v, tag) }, 1),
      KvTable.Schema)

  /** The committed version, as a reader sees it. */
  def latest(): Int = c.span("acid.latest_version")(Acid.latestVersion(dir))

  /** Read-your-writes point probe through `Acid.scanKeys`. */
  def probe(keys: Seq[Long]): Outcome = {
    val (rows, afterBloom, total) = c.span("acid.scan_keys") {
      val (df, kept, _, all) = Acid.scanKeys(c.spark, dir, keys)
      (pairs(df), kept, all)
    }
    scanned += afterBloom; planned += total
    Outcome(0L, KvModel.check(model, keys, rows).map(m => s"scanKeys: $m"))
  }

  /** Pruned range read of the latest version through `Acid.scanRange`. */
  def range(lo: Long, hi: Long): Outcome = {
    val (rows, kept, total) = c.span("acid.scan_range") {
      val (df, kept, all) = Acid.scanRange(c.spark, dir, lo, hi)
      (pairs(df), kept, all)
    }
    scanned += kept; planned += total
    Outcome(0L, KvModel.checkRange(model, lo, hi, rows).map(m => s"scanRange: $m"))
  }

  /** The whole latest snapshot against the model: row count and checksum. */
  def snapshotCheck(): Outcome = {
    val r = c.span("acid.snapshot")(Acid.snapshot(c.spark, dir)
      .agg(count(lit(1)), coalesce(sum(col("k") * 31 + col("v")), lit(0L))).head)
    val got = (r.getLong(0), r.getLong(1))
    val want = (model.size.toLong, model.checksum)
    Outcome(0L, if (got == want) None else Some(s"snapshot (rows, checksum) $got, model $want"))
  }

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select(col("k"), col("v")).collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))
}

object KvTable {
  val Schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("tag", StringType, nullable = false)))
}
