package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Per-JOB wall-time attribution for one declared query — the round-20
  * measurement harness (guide §1: decide where the time goes before
  * touching anything). Runs the fixture once warm, once measured, and
  * prints every Spark job of the measured run with its duration and
  * call site, plus the driver-side gaps between jobs (metadata/commit/
  * planning time never shows up as a job — the gap line is where ACID
  * commit latency and footer sweeps live).
  *
  * Usage: runMain graft.JobProfile <key> [<key2> ...]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // session warm-up, same as Bench
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count().count()

    final case class J(id: Int, desc: String, t0: Long, var t1: Long = -1L)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]
    val order = new java.util.concurrent.CopyOnWriteArrayList[J]
    val listener = new Attribution {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId, siteOf(e), System.nanoTime())
        jobs.put(e.jobId, j); order.add(j): Unit
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId)
        if (j != null) j.t1 = System.nanoTime()
      }
    }
    args.foreach { key =>
      val fn = SparkEntry.queries(key)
      // warm pass (session machinery, memoized fixtures)
      fn(spark, sfDir).count(): Unit
      jobs.clear(); order.clear()
      spark.sparkContext.addSparkListener(listener)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count(): Unit
      val t1 = System.nanoTime()
      spark.sparkContext.removeSparkListener(listener)
      Thread.sleep(300) // drain listener bus
      println(f"\n=== $key: total ${(t1 - t0) / 1e9}%.3f s, " +
        s"${order.size} jobs ===")
      var prevEnd = t0
      import scala.jdk.CollectionConverters._
      order.asScala.toSeq.sortBy(_.t0).foreach { j =>
        val gap = (j.t0 - prevEnd) / 1e9
        if (gap > 0.010)
          println(f"  [driver gap ${gap}%7.3f s]")
        val dur = if (j.t1 < 0) Double.NaN else (j.t1 - j.t0) / 1e9
        println(f"  job ${j.id}%4d ${dur}%7.3f s  ${j.desc.take(110)}")
        if (j.t1 > prevEnd) prevEnd = j.t1
      }
      val tail = (t1 - prevEnd) / 1e9
      if (tail > 0.010) println(f"  [driver tail ${tail}%7.3f s]")
    }
    graft.operators.Llm.clearCaches()
    graft.operators.Relational.dropBucketedTables()
    graft.sources.Acid.dropSqlTables(spark)
    spark.stop()
  }
}

/** Attributes each Spark job to the call site of the action that ran it.
  *
  * The job's SQL execution id is looked up first: the execution-start
  * event carries the action's call site even when AQE submits the job
  * from a thread pool (whose stage names read "withThreadLocalCaptured
  * at CompletableFuture"). An explicit job description (file-listing
  * jobs set one) comes next, then the result stage's name. A streaming
  * micro-batch sets the job description to the query's id/runId/batch
  * text and every execution inside it inherits that text as its own
  * description; that text names no call site, so it is skipped in favour
  * of the execution's recorded call site. */
class Attribution extends SparkListener {
  private val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]

  override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      Attribution.siteOf(s.description, s.details)
        .foreach(execSite.put(s.executionId, _)): Unit
    case _ =>
  }

  def siteOf(e: SparkListenerJobStart): String = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val viaExec = prop("spark.sql.execution.id").flatMap(id => Option(execSite.get(id.toLong)))
    // stageInfos is not guaranteed sorted by stage id — sort like
    // Spark's AppStatusListener before taking the result stage
    val names = e.stageInfos.sortBy(_.stageId).map(_.name)
    val stage = names.reverse.find(n => !n.contains("CompletableFuture"))
      .orElse(names.lastOption)
    viaExec
      .orElse(prop("spark.job.description").filter(d =>
        !d.contains("CompletableFuture") && prop(Attribution.StreamQueryId).isEmpty))
      .orElse(stage)
      .getOrElse("?")
  }
}

object Attribution {
  /** The local property every job of a streaming query carries. */
  val StreamQueryId = "sql.streaming.queryId"

  /** An execution's call site: its description, unless that is a
    * streaming query's multi-line id text, in which case the first user
    * frame of the call-site long form (`details`), rendered like Spark's
    * short form ("method at File.scala:line"). */
  private[graft] def siteOf(description: String, details: String): Option[String] =
    if (description != null && description.nonEmpty && !description.contains('\n'))
      Some(description)
    else {
      val frames = Option(details).toSeq.flatMap(_.split('\n')).map(_.trim)
      val Frame = """(?:at )?(?:\S*/)?([\w$.]+)\.([\w$]+)\(([^:()]+):(\d+)\)""".r
      frames.sliding(2).collectFirst {
        case Seq(Frame(cls, m, _, _), Frame(ucls, _, file, line))
            if cls.startsWith("org.apache.spark") && !ucls.startsWith("org.apache.spark") &&
              !ucls.startsWith("scala.") && !ucls.startsWith("java.") =>
          s"$m at $file:$line"
      }
    }

  /** Run `body` with Spark computing each job's call site from the
    * caller's own stack. A streaming query's thread pins every job's call
    * site to the query's `start()` (Spark bridges it into the stream
    * thread), so without this every job a micro-batch sink runs reads as
    * that one line. Outside a streaming query this is `body`. */
  def ownCallSites[T](sc: org.apache.spark.SparkContext)(body: => T): T = {
    val short = sc.getLocalProperty("callSite.short")
    if (short == null || sc.getLocalProperty(StreamQueryId) == null) body
    else {
      val long = sc.getLocalProperty("callSite.long")
      sc.clearCallSite()
      try body
      finally {
        sc.setLocalProperty("callSite.short", short)
        sc.setLocalProperty("callSite.long", long)
      }
    }
  }
}

