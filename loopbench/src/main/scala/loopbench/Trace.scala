package loopbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into the engine, made from the benchmark's own code. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Records spans around the benchmark's calls into each layer. Spans are
  * kept in memory and written out at exit; when disabled a span is only
  * its body, so untraced runs pay nothing. A span's parent is the
  * innermost open span on its thread, else the op in flight, which also
  * covers calls made on a streaming query's micro-batch thread. */
final class Tracer(val enabled: Boolean) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)
  @volatile private var opId = 0L
  @volatile private var opSpan = 0L

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else record(name, open.get.headOption.getOrElse(opSpan), root = false)(body)

  /** Runs one op as the root span of everything called inside it. */
  def op[T](id: Long, cls: String)(body: => T): T = {
    opId = id
    if (!enabled) body else record(s"op.$cls", 0L, root = true)(body)
  }

  private def record[T](name: String, parent: Long, root: Boolean)(body: => T): T = {
    val id = ids.getAndIncrement()
    if (root) opSpan = id
    open.set(id :: open.get)
    val t0 = System.nanoTime()
    try body
    finally {
      done.add(Span(id, parent, opId, name, t0, System.nanoTime()))
      open.set(open.get.tail)
      if (root) opSpan = 0L
    }
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  /** Total self time per span name: duration minus what child spans cover. */
  def selfTimes: Map[String, (Int, Double, Double)] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val total = ss.map(_.seconds).sum
      val self = ss.map { s =>
        Stats.selfTime(s.startNs / 1e9, s.endNs / 1e9,
          kids.getOrElse(s.id, Nil).map(c => (c.startNs / 1e9, c.endNs / 1e9)))
      }.sum
      name -> ((ss.size, total, self))
    }
  }
}

/** A Spark job as the public listener reports it (wall-clock millis). */
final case class JobRec(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

/** Task totals of one stage. */
final case class StageIo(tasks: Int, inputBytes: Long, outputBytes: Long,
    shuffleBytes: Long) {
  def +(o: StageIo): StageIo = StageIo(tasks + o.tasks, inputBytes + o.inputBytes,
    outputBytes + o.outputBytes, shuffleBytes + o.shuffleBytes)
}
object StageIo { val Zero: StageIo = StageIo(0, 0L, 0L, 0L) }

/** One streaming micro-batch as `StreamingQueryListener` reports it. */
final case class Epoch(batchId: Long, startMs: Long, triggerMs: Long, addBatchMs: Long,
    rows: Long)

/** Collects job intervals, per-stage task IO and streaming progress from
  * Spark's public listener interfaces. */
final class SparkProbe extends SparkListener {
  private val starts = mutable.Map.empty[Int, (Long, Seq[Int])]
  private val jobsDone = mutable.ArrayBuffer.empty[JobRec]
  private val stageIo = mutable.Map.empty[Int, StageIo]
  private val epochsSeen = new ConcurrentLinkedQueue[Epoch]()
  private val markers = mutable.Map.empty[String, Int]
  private val MarkerKey = "loopbench.drain"

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(MarkerKey)))
      .foreach(markers(_) = e.jobId)
    starts(e.jobId) = (e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    starts.remove(e.jobId).foreach { case (t0, st) =>
      jobsDone += JobRec(e.jobId, t0, e.time, st)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val io =
      if (m == null) StageIo(1, 0L, 0L, 0L)
      else StageIo(1, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten,
        m.shuffleWriteMetrics.bytesWritten)
    stageIo(e.stageId) = stageIo.getOrElse(e.stageId, StageIo.Zero) + io
  }

  /** Completed jobs, without the ones `drain` itself ran. */
  def jobs: Seq[JobRec] = synchronized {
    val own = markers.values.toSet
    jobsDone.filterNot(j => own(j.id)).toSeq.sortBy(_.id)
  }

  def io(job: JobRec): StageIo = synchronized {
    job.stages.flatMap(stageIo.get).foldLeft(StageIo.Zero)(_ + _)
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      if (p.numInputRows > 0 || d.containsKey("addBatch"))
        epochsSeen.add(Epoch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
          ms("triggerExecution"), ms("addBatch"), p.numInputRows))
    }
  }

  def epochs: Seq[Epoch] = epochsSeen.asScala.toSeq.sortBy(_.batchId)

  /** Blocks until every listener event posted so far has been delivered:
    * a marker job's end event arrives behind all earlier ones, and the
    * streaming queue is given until it has seen `epochsExpected`. */
  def drain(s: SparkSession, epochsExpected: Int): Unit = {
    val token = java.util.UUID.randomUUID().toString
    val sc = s.sparkContext
    sc.setLocalProperty(MarkerKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(MarkerKey, null)
    def markerEnded = synchronized {
      markers.get(token).exists(id => jobsDone.exists(_.id == id))
    }
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (System.nanoTime() < deadline &&
        (!markerEnded || epochsSeen.size < epochsExpected))
      Thread.sleep(10)
  }

}
