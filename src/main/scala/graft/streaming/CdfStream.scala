package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, GraftSqlBridge, Row, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.Acid

/** Streaming read OUT of the ACID table — the CDF-as-stream contract
  * (SURVEY round-6 plan #3): `spark.readStream.format("graft-acid-cdf")
  * .load(tableDir)` replays the table's change feed as a micro-batch
  * stream, one offset per COMMITTED VERSION. Each micro-batch is the
  * union of `Acid.changeFeed(v, v+1)` increments for the version range the
  * engine asks for, tagged with `_commit_version` — the same incremental
  * view Delta's CDF streaming source provides, driven here entirely by the
  * manifest log.
  *
  * Altitude: the V1 `Source` API on purpose. `getBatch` returns a
  * DataFrame, so the change classification (a file-list symmetric
  * difference + full-outer key join, cost ∝ changed files, not table
  * size) stays a DECLARATIVE distributed plan that Catalyst optimizes per
  * batch — a V2 `MicroBatchStream` would force the join's results through
  * hand-built InputPartitions or a materialization hop. Offsets are table
  * versions, so restart-resume is exact: the checkpoint's last committed
  * version is replayed idempotently from immutable manifests (until
  * vacuum passes the horizon, at which point the read REFUSES — the same
  * below-horizon contract as time travel).
  *
  * Scale: each micro-batch reads only the files the commits in its range
  * rewrote; state is zero (the source is stateless — all progress lives
  * in the offset log). A 100 TB table with small CDC commits streams out
  * at per-commit cost.
  */
class CdfSourceProvider extends StreamSourceProvider with DataSourceRegister {
  override def shortName(): String = "graft-acid-cdf"

  override def sourceSchema(ctx: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    (shortName(), CdfStreamSource.cdfSchema(ctx, dirOf(parameters)))

  override def createSource(ctx: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    // stream options arrive with case-insensitive (lowercased) keys
    def opt(name: String): Option[String] =
      parameters.collectFirst { case (k, v) if k.equalsIgnoreCase(name) => v }
    new CdfStreamSource(ctx, dirOf(parameters),
      opt("startVersion").map(_.toInt).getOrElse(0),
      opt("maxVersionsPerTrigger").map(_.toInt))
  }

  private def dirOf(parameters: Map[String, String]): String =
    parameters.collectFirst { case (k, v) if k.equalsIgnoreCase("path") => v }
      .getOrElse(throw new IllegalArgumentException(
        "graft-acid-cdf: .load(<table dir>) is required"))
}

object CdfStreamSource {
  /** The stream's schema = exactly what `changeFeed` emits (computed from
    * an empty v→v diff so names/types/nullability can never drift from
    * the batch CDF), plus the commit-version tag.
    */
  def cdfSchema(ctx: SQLContext, dir: String): StructType = {
    val latest = Acid.latestVersion(dir)
    require(latest >= 0, s"graft-acid-cdf: $dir has no committed versions")
    StructType(
      Acid.changeFeed(ctx.sparkSession, dir, latest, latest).schema.fields :+
        StructField("_commit_version", LongType, nullable = false))
  }
}

class CdfStreamSource(ctx: SQLContext, dir: String, startVersion: Int,
    maxVersionsPerTrigger: Option[Int] = None)
    extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReadMaxRows}

  override val schema: StructType = CdfStreamSource.cdfSchema(ctx, dir)

  /** Latest committed table version, as the stream's end offset; no new
    * commits → no new batch. */
  override def getOffset: Option[OffsetV1] = {
    val latest = Acid.latestVersion(dir)
    if (latest <= startVersion) None else Some(LongOffset(latest.toLong))
  }

  /** Admission control (`maxVersionsPerTrigger`): a table with a deep
    * commit backlog drains in BOUNDED micro-batches instead of one batch
    * replaying the whole history — each trigger advances at most N
    * versions, so per-batch memory/IO tracks N commits, not backlog
    * depth. Expressed through `ReadLimit.maxRows` (the unit here is
    * versions, the source's admission knob). `SupportsTriggerAvailableNow`
    * is implemented DIRECTLY (not via the engine's wrapper) because the
    * AvailableNow wrapper's latestOffset discards read limits — a wrapped
    * source always drains its whole backlog in one batch.
    */
  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(n => ReadLimit.maxRows(n.toLong))
      .getOrElse(ReadLimit.allAvailable())

  @volatile private var availableNowEnd: Option[Int] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(Acid.latestVersion(dir))

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset)
      .map(o => o.json.trim.toInt).getOrElse(startVersion)
    val latest0 = Acid.latestVersion(dir)
    val latest = availableNowEnd.map(math.min(_, latest0)).getOrElse(latest0)
    val capped = limit match {
      case mr: ReadMaxRows => math.min(latest.toLong, start + mr.maxRows()).toInt
      case _               => latest
    }
    if (capped <= start) null else LongOffset(capped.toLong)
  }

  // Offsets arrive as LongOffset from this source or SerializedOffset on
  // checkpoint resume; json() is the version number either way.
  private def versionOf(o: OffsetV1): Int = o.json.trim.toInt

  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val v0 = start.map(versionOf).getOrElse(startVersion)
    val v1 = versionOf(end)
    val spark = ctx.sparkSession
    val increments = (v0 until v1).map { v =>
      align(Acid.changeFeed(spark, dir, v, v + 1)
        .withColumn("_commit_version", lit((v + 1).toLong)))
    }
    val batch =
      if (increments.isEmpty) // defensive: an empty replay range
        align(Acid.changeFeed(spark, dir, v1, v1)
          .withColumn("_commit_version", lit(v1.toLong)))
      else increments.reduce(_ unionByName _)
    // A V1 source must return a STREAMING DataFrame; wrap the (lazy)
    // distributed plan — nothing is computed or collected here.
    GraftSqlBridge.rowFrame(spark,
      batch.queryExecution.toRdd, batch.schema, isStreaming = true)
  }

  /** Align an increment to the declared stream schema: a column evolved
    * AFTER the stream started is dropped; one evolved BEFORE an old
    * increment is NULL there (matching the mergeSchema read).
    */
  private def align(df: DataFrame): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
}
