package loopbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.sources.Acid

/** Runs one workload and writes its result line (and, traced, its side
  * file). Usage:
  * {{{
  * loopbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --result <file> [--side <file>]
  * }}}
  */
object Main {
  val Workloads: Seq[String] = Seq("xml_ingest", "cdc_merge", "history_read")

  private def log(msg: String): Unit = System.err.println(s"[loopbench] $msg")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors

    val spark = session(work, cores, workload)
    try {
      val sessionReady = System.currentTimeMillis()
      val tracer = new Tracer(trace)
      val probe = new SparkProbe
      if (trace) {
        spark.sparkContext.addSparkListener(probe)
        spark.streams.addListener(probe.streams)
      }
      val ctx = new Ctx(spark, work, seed, tracer)
      val w: Workload = workload match {
        case "xml_ingest" => new XmlIngest(ctx)
        case "cdc_merge" => new CdcMerge(ctx)
        case "history_read" => new HistoryRead(ctx)
      }
      val prepared = System.currentTimeMillis()
      w.prepare()
      val built = System.currentTimeMillis()
      val warm = w.warmup().zipWithIndex.map { case (op, i) =>
        Runner.execute(-1L - i, op, tracer, log)
      }
      val written = new Storage.Written(w.tables)
      val cpu0 = Jvm.cpuNs; val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      val started = System.currentTimeMillis()
      val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
      val setupS = (started - jvmStart) / 1e3
      log(f"setup $setupS%.3f s: jvm+session ${(sessionReady - jvmStart) / 1e3}%.3f s, " +
        f"fixture ${(built - prepared) / 1e3}%.3f s, warm-up ${(started - built) / 1e3}%.3f s")
      val timed = Runner.timed(w, tracer, seconds, log,
        rec => if (trace && rec.write) written.observe())
      val t1 = System.nanoTime()
      val cpuS = (Jvm.cpuNs - cpu0) / 1e9
      val gcS = (Jvm.gcMs - gc0) / 1e3
      val heapMb = Jvm.heapAfterGcMb()
      val finals = w.finalChecks().zipWithIndex.map { case (op, i) =>
        Runner.execute(timed.size + 1L + i, op, tracer, log)
      }

      val all = warm ++ timed ++ finals
      val failed = all.count(_.failure.nonEmpty)
      val wall = (t1 - t0) / 1e9
      val reads = timed.filter(!_.write).map(_.seconds)
      val writes = timed.filter(_.write).map(_.seconds)
      log(f"warm-up ${warm.size} ops, then timed ${timed.size} ops in $wall%.3f s: " +
        s"${reads.size} reads, ${writes.size} writes")
      Seq("read" -> reads, "write" -> writes).foreach { case (kind, xs) =>
        log(Stats.tail(xs).fold(s"${kind}_tail_s: ${xs.size} samples, too few for a tail")(t =>
          f"${kind}_tail_s at p${t.p * 100}%.1f of ${t.samples} samples (${t.beyond} beyond): ${t.value}%.6f s"))
      }

      val metrics: Seq[(String, Double, String)] =
        if (!trace) Seq(
          ("setup_s", setupS, "s"),
          ("ops_per_s", timed.size / wall, "ops/s"),
          ("cpu_s_per_op", cpuS / timed.size, "s"),
          ("heap_after_gc_mb", heapMb, "MB"))
        else {
          probe.drain(spark, tracer.spans.count(_.name == "streaming.epoch"))
          val layers = new Layers(timed, timed ++ finals, wall, tracer, probe, w, written.bytes)
          val ms = layers.metrics(failed.toDouble / all.size, gcS, cpuS)
          layers.writeSide(Paths.get(args("side")), Seq("workload" -> workload,
            "seed" -> seed, "seconds" -> seconds, "cores" -> cores, "setup_s" -> setupS))
          ms
        }
      val result = Json.obj(
        "correct" -> (failed == 0),
        "attempted" -> all.size,
        "failed" -> failed,
        "metrics" -> Json.Raw(metrics.map { case (n, v, u) =>
          Json.str(n) + ": " + Json.obj("value" -> v, "unit" -> u)
        }.mkString("{", ", ", "}")))
      Files.writeString(Paths.get(args("result")), result + "\n")
    } finally spark.stop()
  }

  def session(work: String, cores: Int, workload: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"loopbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.catalog.lb", "graft.sources.AcidCatalog")
      .config("spark.sql.catalog.lb.root", s"$work/catalog")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Process CPU, collector time and retained heap, from the JVM's beans. */
object Jvm {
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** The least heap in use over three forced collections. Spark's context
    * cleaner frees broadcast and shuffle blocks only after a collection
    * has found their handles dead, so each round waits for it and collects
    * again. */
  def heapAfterGcMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }.min
}

/** Bytes under one table directory, split the way the metrics need. */
final case class Storage(logFiles: Long, logBytes: Long, dataBytes: Long, liveBytes: Long) {
  def totalBytes: Long = logBytes + dataBytes
}

object Storage {
  def of(dir: String): Storage = {
    val root = Paths.get(dir)
    if (!Files.isDirectory(root)) return Storage(0, 0, 0, 0)
    val files = walk(root)
    val (log, data) = files.partition(_.startsWith(root.resolve("_log")))
    val live = {
      val v = Acid.latestVersion(dir)
      if (v < 0) 0L
      else Acid.readManifest(dir, v).files
        .flatMap(f => Seq(f.path) ++ f.dv.map(_._1) ++ f.pdv.map(_._1))
        .distinct.map(p => walk(root.resolve(p)).map(Files.size).sum).sum
    }
    Storage(log.size, log.map(Files.size).sum, data.map(Files.size).sum, live)
  }

  /** Bytes of the files that appear under `dirs`, polled after every
    * write op, so files a later vacuum removes still count as written. */
  final class Written(dirs: Seq[String]) {
    private val seen = scala.collection.mutable.Set.empty[Path]
    var bytes = 0L
    private def scan(count: Boolean): Unit = dirs.foreach { d =>
      walk(Paths.get(d)).foreach { p =>
        if (seen.add(p) && count) bytes += (try Files.size(p) catch { case NonFatal(_) => 0L })
      }
    }
    scan(count = false)
    def observe(): Unit = scan(count = true)
  }

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally st.close()
    }
}

/** Just enough JSON for the result line and the side file. */
object Json {
  final case class Raw(text: String)

  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').result()
  }

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, "non-finite number in JSON output")
      d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case None => "null"
    case Some(x) => value(x)
    case other => str(other.toString)
  }

  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
