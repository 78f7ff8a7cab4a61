package loopbench

import java.nio.file.{Files, Path}

/** Per-layer metrics of a traced run: spans from the benchmark's calls into
  * each layer, Spark jobs from the listener attributed to the op they ran
  * in, streaming progress, and a walk of the table directories. */
final class Layers(timed: Seq[OpRec], all: Seq[OpRec], wall: Double,
    tracer: Tracer, probe: SparkProbe, w: Workload, writtenBytes: Long) {
  import Layers._

  /** Wall-clock millis of a `System.nanoTime` reading. */
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def ms(ns: Long): Double = ns / 1e6 + offsetMs

  private val jobs = probe.jobs

  /** Each op's jobs (those that started inside it) and its wall time split
    * into job time and driver gap. */
  val splits: Seq[Split] = all.map { op =>
    val (s, e) = (ms(op.startNs), ms(op.endNs))
    val mine = jobs.filter(j => j.startMs >= s - 1 && j.startMs <= e + 1)
    val (jobMs, gapMs) = Stats.jobSplit(s, e, mine.map(j => (j.startMs.toDouble, j.endMs.toDouble)))
    Split(op, jobMs / 1e3, gapMs / 1e3, mine, mine.map(probe.io).foldLeft(StageIo.Zero)(_ + _))
  }

  private val timedIds = timed.map(_.id).toSet
  private val allIds = all.map(_.id).toSet
  /** Spans inside the ops measured here: not set-up, not warm-up. */
  private val counted = tracer.spans.filter(s => allIds(s.op))

  /** Median duration of the counted spans called `name`, or 0 if none. */
  private def p50(name: String): Double = {
    val xs = counted.filter(_.name == name).map(_.seconds)
    if (xs.isEmpty) 0.0 else Stats.median(xs)
  }
  private val timedSplits = splits.filter(s => timedIds(s.op.id))
  private val storage = w.tables.map(Storage.of)
    .foldLeft(Storage(0, 0, 0, 0))((a, b) =>
      Storage(a.logFiles + b.logFiles, a.logBytes + b.logBytes, a.dataBytes + b.dataBytes,
        a.liveBytes + b.liveBytes))

  /** Per op class: ops, wall, job time, driver gap, jobs, tasks. */
  def byClass: Seq[(String, Int, Double, Double, Double, Int, Int)] =
    splits.groupBy(_.op.cls).toSeq.sortBy(_._1).map { case (cls, ss) =>
      (cls, ss.size, ss.map(_.op.seconds).sum, ss.map(_.jobS).sum, ss.map(_.gapS).sum,
        ss.map(_.jobs.size).sum, ss.map(_.io.tasks).sum)
    }

  def metrics(failRatio: Double, gcS: Double, cpuS: Double): Seq[(String, Double, String)] = {
    val writes = timed.filter(_.write).map(_.seconds)
    val reads = timed.filter(!_.write).map(_.seconds)
    val counters = w.counters
    def counter(n: String) = counters.getOrElse(n, 0.0)
    def mean(group: OpRec => Boolean)(f: Split => Double): Double = {
      val xs = timedSplits.filter(s => group(s.op))
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    }
    def ratio(a: Double, b: Double) = if (b <= 0) 0.0 else a / b
    val parseS = counted.filter(_.name == "xml.parse").map(_.seconds).sum
    val (t0, t1) = (ms(timed.head.startNs), ms(timed.last.endNs))
    val epochs = probe.epochs.filter(e => e.startMs >= t0 && e.startMs <= t1)
    def epochP50(f: Epoch => Long) =
      if (epochs.isEmpty) 0.0 else Stats.median(epochs.map(f(_) / 1e3))
    val groups = Seq[(String, OpRec => Boolean)](
      "write" -> (_.write), "read" -> (!_.write),
      "merge" -> (o => MergeClasses(o.cls)), "delete" -> (_.cls.startsWith("delete_")))

    Seq(
      ("write_p50_s", if (writes.isEmpty) 0.0
        else Stats.classMedian(timed.filter(_.write).map(o => (o.cls, o.seconds))), "s"),
      ("read_p50_s", if (reads.isEmpty) 0.0
        else Stats.classMedian(timed.filter(!_.write).map(o => (o.cls, o.seconds))), "s"),
      ("write_tail_s", Stats.tail(writes).map(_.value).getOrElse(0.0), "s"),
      ("read_tail_s", Stats.tail(reads).map(_.value).getOrElse(0.0), "s"),
      ("rows_per_s", timed.map(_.rows).sum / wall, "rows/s"),
      ("write_amp", ratio(writtenBytes.toDouble, storage.liveBytes), "ratio"),
      ("space_amp", ratio(storage.totalBytes, storage.liveBytes), "ratio"),
      ("op_fail_ratio", failRatio, "ratio"),
      ("xml.parse_s", p50("xml.parse"), "s"),
      ("xml.mb_per_s", ratio(counter("xml.bytes") / 1e6, parseS), "MB/s"),
      ("xml.records", counter("xml.records"), "count"),
      ("xml.malformed", counter("xml.malformed"), "count")) ++
    SpanMetrics.map { case (metric, span) => (metric, p50(span), "s") } ++
    Seq(
      ("acid.merge.rewrite_ratio", counter("acid.merge.rewrite_ratio"), "ratio"),
      ("acid.scan.file_ratio", counter("acid.scan.file_ratio"), "ratio"),
      ("streaming.epoch_s", epochP50(_.triggerMs), "s"),
      ("streaming.add_batch_s", epochP50(_.addBatchMs), "s"),
      ("streaming.epochs", epochs.size.toDouble, "count")) ++
    groups.flatMap { case (g, in) => Seq(
      (s"spark.jobs.$g", mean(in)(_.jobs.size.toDouble), "count"),
      (s"spark.job_s.$g", mean(in)(_.jobS), "s"),
      (s"spark.driver_gap_s.$g", mean(in)(_.gapS), "s"))
    } ++
    Seq(
      ("spark.tasks", mean(_ => true)(_.io.tasks.toDouble), "count"),
      ("spark.input_bytes", mean(_ => true)(_.io.inputBytes.toDouble), "bytes"),
      ("spark.output_bytes", mean(_ => true)(_.io.outputBytes.toDouble), "bytes"),
      ("spark.shuffle_bytes", mean(_ => true)(_.io.shuffleBytes.toDouble), "bytes"),
      ("storage.log_files", storage.logFiles.toDouble, "count"),
      ("storage.log_bytes", storage.logBytes.toDouble, "bytes"),
      ("storage.data_bytes", storage.dataBytes.toDouble, "bytes"),
      ("storage.live_bytes", storage.liveBytes.toDouble, "bytes"),
      ("jvm.gc_s", gcS, "s"),
      ("jvm.cpu_s", cpuS, "s"),
      ("trace.ops_per_s", timed.size / wall, "ops/s"))
  }

  /** Writes the side file: one JSON object per line, see README.md. */
  def writeSide(path: Path, header: Seq[(String, Any)]): Unit = {
    val lines = Seq.newBuilder[String]
    lines += Json.obj(("type" -> "run") +: header: _*)
    splits.foreach { s =>
      lines += Json.obj("type" -> "op", "id" -> s.op.id, "cls" -> s.op.cls,
        "write" -> s.op.write, "start_ms" -> ms(s.op.startNs), "end_ms" -> ms(s.op.endNs),
        "ok" -> s.op.failure.isEmpty, "rows" -> s.op.rows, "job_s" -> s.jobS,
        "driver_gap_s" -> s.gapS, "jobs" -> s.jobs.map(_.id).mkString(","))
    }
    tracer.spans.foreach { sp =>
      lines += Json.obj("type" -> "span", "id" -> sp.id, "parent" -> sp.parent, "op" -> sp.op,
        "name" -> sp.name, "start_ms" -> ms(sp.startNs), "end_ms" -> ms(sp.endNs))
    }
    jobs.foreach { j =>
      val io = probe.io(j)
      lines += Json.obj("type" -> "job", "id" -> j.id, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "tasks" -> io.tasks, "input_bytes" -> io.inputBytes,
        "output_bytes" -> io.outputBytes, "shuffle_bytes" -> io.shuffleBytes)
    }
    probe.epochs.foreach { e =>
      lines += Json.obj("type" -> "epoch", "batch" -> e.batchId, "start_ms" -> e.startMs,
        "trigger_ms" -> e.triggerMs,
        "add_batch_ms" -> e.addBatchMs, "rows" -> e.rows)
    }
    tracer.selfTimes.toSeq.sortBy(_._1).foreach { case (name, (n, total, self)) =>
      lines += Json.obj("type" -> "self_time", "name" -> name, "count" -> n,
        "total_s" -> total, "self_s" -> self)
    }
    byClass.foreach { case (cls, n, wallS, jobS, gapS, nJobs, tasks) =>
      lines += Json.obj("type" -> "op_class", "cls" -> cls, "ops" -> n, "wall_s" -> wallS,
        "job_s" -> jobS, "driver_gap_s" -> gapS, "jobs" -> nJobs, "tasks" -> tasks)
    }
    Files.createDirectories(path.toAbsolutePath.getParent)
    Files.write(path, lines.result().mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Layers {
  final case class Split(op: OpRec, jobS: Double, gapS: Double, jobs: Seq[JobRec], io: StageIo)

  /** Op classes that merge rows into a table. */
  val MergeClasses = Set("merge", "merge_into", "epoch")

  /** Per-layer latency metrics: the median of the named span's durations. */
  val SpanMetrics: Seq[(String, String)] = Seq(
    "acid.merge_s" -> "acid.merge",
    "acid.delete_s" -> "acid.delete",
    "acid.optimize_s" -> "acid.optimize",
    "acid.vacuum_s" -> "acid.vacuum",
    "acid.snapshot_s" -> "acid.snapshot",
    "acid.scan_range_s" -> "acid.scan_range",
    "acid.scan_keys_s" -> "acid.scan_keys",
    "acid.time_travel_s" -> "acid.time_travel",
    "acid.change_feed_s" -> "acid.change_feed",
    "acid.latest_version_s" -> "acid.latest_version",
    "acid.read_manifest_s" -> "acid.read_manifest",
    "acid_sql.append_s" -> "acid_sql.append",
    "acid_sql.merge_into_s" -> "acid_sql.merge_into",
    "acid_sql.delete_s" -> "acid_sql.delete",
    "acid_sql.select_s" -> "acid_sql.select")
}
