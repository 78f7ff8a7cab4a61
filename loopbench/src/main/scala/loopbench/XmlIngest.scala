package loopbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sources.Xml

/** `xml_ingest`: the paper's headline path. Each op reads one file group
  * with `Xml.readXmlNodePath`, which routes the last group, one file above
  * its 32 MiB split threshold, through the intra-file split reader;
  * extracts typed columns with PERMISSIVE `from_xml`, and appends through
  * `writeTo(...).append()`; a catalog read of the appended group then
  * checks row count, malformed count and checksum against the generator. */
final class XmlIngest(c: Ctx) extends Workload {
  import XmlIngest._

  private var groups = IndexedSeq.empty[FeedGroup]
  private var table = ""
  private var landed = 0L
  private var parsedBytes, parsedRecords, parsedMalformed = 0L

  def prepare(): Unit = {
    groups = XmlFeed.generate(c.seed, s"${c.work}/feed", SmallGroups,
      FilesPerGroup, RecordsPerFile, BigFileBytes)
    table = s"${c.catalog}.ingest"
    c.spark.sql(s"CREATE TABLE $table ($TableDdl)")
  }

  def tables: Seq[String] = Seq(c.dirOf(table.stripPrefix(s"${c.catalog}.")))

  def cycleSeconds: Double = 16.0

  /** One small group: a whole cycle, with the large file, costs too much. */
  override def warmup(): Seq[Op] = ops(groups.head)

  override def counters: Map[String, Double] = Map("xml.bytes" -> parsedBytes.toDouble,
    "xml.records" -> parsedRecords.toDouble, "xml.malformed" -> parsedMalformed.toDouble)

  private var batch = 0L

  def cycle(): Seq[Op] = groups.flatMap(ops)

  private def ops(g: FeedGroup): Seq[Op] = {
    batch += 1
    val b = batch
    Seq(Op("ingest", write = true, () => ingest(g, b)),
      Op("select", write = false, () => readBack(g, b)))
  }

  private def ingest(g: FeedGroup, b: Long): Outcome = {
    val typed = c.span("xml.parse") {
      val t = extract(Xml.readXmlNodePath(c.spark, g.dir, XmlFeed.NodePath), b)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (t, t.agg(Totals.head, Totals.tail: _*).head)
    }
    val (frame, totals) = typed
    parsedBytes += g.bytes
    parsedRecords += totals.getLong(0)
    parsedMalformed += totals.getLong(1)
    try {
      val bad = expect(g, totals, "parsed")
      c.span("acid_sql.append")(frame.writeTo(table).append())
      landed += g.records
      Outcome(g.records, bad)
    } finally frame.unpersist()
  }

  private def readBack(g: FeedGroup, b: Long): Outcome = {
    val r = c.span("acid_sql.select")(c.spark.table(table)
      .filter(col("grp") === b).agg(Totals.head, Totals.tail: _*).head)
    Outcome(0L, expect(g, r, s"batch $b read back"))
  }

  def finalChecks(): Seq[Op] = Seq(Op("final_count", write = false, () => {
    val n = c.span("acid_sql.select")(c.spark.table(table).count())
    Outcome(0L, if (n == landed) None else Some(s"table holds $n rows, $landed landed"))
  }))
}

object XmlIngest {
  val SmallGroups = 6
  val FilesPerGroup = 12
  val RecordsPerFile = 160
  /** Above `Xml`'s 32 MiB split threshold. */
  val BigFileBytes: Long = (32L << 20) + (256L << 10)

  val TableDdl = "grp BIGINT, id BIGINT, kind STRING, region BIGINT, " +
    "amount BIGINT, qty BIGINT, n_items INT, bad BOOLEAN"

  private val ItemType = StructType(Seq(
    StructField("_sku", StringType), StructField("_n", LongType)))
  val Schema: StructType = StructType(Seq(
    StructField("_id", LongType), StructField("_kind", StringType),
    StructField("m:src", StructType(Seq(
      StructField("_region", LongType), StructField("_VALUE", StringType)))),
    StructField("amount", LongType), StructField("qty", LongType),
    StructField("items", StructType(Seq(StructField("item", ArrayType(ItemType))))),
    StructField("note", StringType), StructField("_corrupt_record", StringType)))
  private val Permissive = Map("mode" -> "PERMISSIVE",
    "columnNameOfCorruptRecord" -> "_corrupt_record").asJava

  /** Typed columns of one group, stamped with its batch number. */
  def extract(raw: DataFrame, batch: Long): DataFrame =
    raw.select(from_xml(col("xml"), Schema, Permissive).as("r")).select(
      lit(batch).as("grp"), col("r._id").as("id"), col("r._kind").as("kind"),
      col("r.`m:src`._region").as("region"), col("r.amount").as("amount"),
      col("r.qty").as("qty"), size(col("r.items.item")).as("n_items"),
      col("r._corrupt_record").isNotNull.as("bad"))

  /** Row count, malformed count and the good-row checksum of `XmlFeed.term`. */
  val Totals: Seq[Column] = Seq(
    count(lit(1)),
    sum(when(col("bad"), 1L).otherwise(0L)),
    coalesce(sum(when(!col("bad"), col("id") * 7 + col("amount") * 3 + col("qty") * 11 +
      col("region") * 13 + col("n_items").cast("long") * 17).otherwise(0L)), lit(0L)))

  def expect(g: FeedGroup, r: Row, what: String): Option[String] = {
    val got = (r.getLong(0), r.getLong(1), r.getLong(2))
    val want = (g.records, g.malformed, g.checksum)
    if (got == want) None
    else Some(s"group ${g.id} $what: (rows, malformed, checksum) $got, generator $want")
  }
}
