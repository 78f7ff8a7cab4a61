package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming equivalence tests — SURVEY §5.4 (two-hop scheme) and
  * FIXTURES.md §C (chunked replay, late-data drop).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  private val rawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  test("streaming tumbling agg equals its batch formulation (two-hop)") {
    val streamed = SparkEntry.queries("st_tumbling")(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("cnt"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))
      .collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("streaming session windows equal the batch session_window") {
    val streamed = SparkEntry.queries("st_session")(spark, sf).collect()
    val batch = Tables.events(spark, sf)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
      .collect()
    assert(streamed.toSeq == batch.toSeq)
  }

  test("watermark drops late rows under chunked replay") {
    // Chunk 1: all events of hour 0 and hour 2 (advances the watermark past
    // hour 0). Chunk 2: events timestamped in hour 0 — late beyond the
    // 10-minute watermark once chunk 1 is processed, so they must NOT
    // contribute to the finalized hour-0 window.
    import spark.implicits._
    val base = Files.createTempDirectory("graft_latespec").toString
    Files.createDirectories(Paths.get(base, "in"))
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(mins: Long) = new java.sql.Timestamp(t0.getTime + mins * 60000)

    val chunk1 = Seq(
      (1L, ts(5), 1L, "a", 1.0), (2L, ts(10), 1L, "a", 1.0),
      (3L, ts(125), 1L, "a", 1.0), (4L, ts(130), 1L, "a", 1.0))
    val chunk2 = Seq((5L, ts(15), 1L, "a", 100.0)) // late: hour 0
    chunk1.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$base/in/c1")
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("ts", TimestampType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in/*")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("cnt"), sum(col("value")).as("sum_value"))

    val q1 = stream.writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
      .start()
    q1.awaitTermination()

    chunk2.toDF("event_id", "ts", "user_id", "event_type", "value")
      .coalesce(1).write.parquet(s"$base/in/c2")
    val q2 = stream.writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
      .start()
    q2.awaitTermination()

    val out = spark.read.parquet(s"$base/out")
      .select(col("window.start"), col("cnt"), col("sum_value")).collect()
      .map(r => r.getTimestamp(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    // hour-0 window finalized after chunk 1 with 2 rows; the late event
    // (value=100) must be absent.
    assert(out(t0) == ((2L, 2.0)))
  }

  test("streaming dedup emits each event_id exactly once across batches") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_dedupspec").toString
    Files.createDirectories(Paths.get(base, "in"))
    Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)).toDF("event_id", "value")
      .coalesce(1).write.parquet(s"$base/in/c1")
    Seq((2L, 2.0), (3L, 3.0), (4L, 4.0)).toDF("event_id", "value")
      .coalesce(1).write.parquet(s"$base/in/c2")
    val q = spark.readStream
      .schema(StructType(Seq(
        StructField("event_id", LongType), StructField("value", DoubleType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in/*")
      .dropDuplicates("event_id")
      .writeStream.trigger(Trigger.AvailableNow())
      .outputMode("append").format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/cp")
      .start()
    q.awaitTermination()
    val ids = spark.read.parquet(s"$base/out").select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L, 4L))
  }

  test("every job in a streaming sink query carries a call site") {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new Attribution {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Attribution.StreamQueryId) != null))
          sites.add(siteOf(e)): Unit
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("tbl_stream_sink")(spark, sf).collect()
      Thread.sleep(500) // drain the listener bus
    } finally spark.sparkContext.removeSparkListener(l)
    import scala.jdk.CollectionConverters._
    val all = sites.asScala.toSeq
    assert(all.nonEmpty)
    // "method at File.scala:line" naming the engine call that ran the
    // job, never the query's id text or the one start() line every
    // micro-batch job inherits
    val CallSite = """[\w$]+ at [\w$]+\.scala:\d+""".r
    assert(all.forall(CallSite.matches), all.distinct)
    assert(!all.exists(_.startsWith("start at ")), all.distinct)
    assert(all.exists(_.startsWith("writeParquetWithStats at Acid.scala:")), all.distinct)
  }
}
