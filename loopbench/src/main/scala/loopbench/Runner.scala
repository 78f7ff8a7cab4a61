package loopbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What an op reports back: user rows it landed, and the first way its
  * result disagreed with the workload's reference, if any. */
final case class Outcome(rows: Long = 0L, mismatch: Option[String] = None)

/** One closed-loop request: a named class, write or read, and its body. */
final case class Op(cls: String, write: Boolean, run: () => Outcome)

final case class OpRec(id: Long, cls: String, write: Boolean, startNs: Long,
    endNs: Long, rows: Long, failure: Option[String]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A benchmark workload: builds its fixture, then hands out a fixed op
  * cycle, one cycle at a time. */
trait Workload {
  /** Builds inputs and fixture tables. */
  def prepare(): Unit
  def cycle(): Seq[Op]
  /** Ops run before timing starts, so the JIT has compiled every op path:
    * one whole cycle unless a workload needs less. */
  def warmup(): Seq[Op] = cycle()
  /** Checks of the final state, run after the timed phase. */
  def finalChecks(): Seq[Op]
  /** Table directories of the prepared fixture. */
  def tables: Seq[String]
  /** Nominal seconds one cycle takes on four cores; sets the cycle count. */
  def cycleSeconds: Double
  /** Layer counts and ratios only the workload can see, by metric name. */
  def counters: Map[String, Double] = Map.empty
}

/** What every workload is handed: the session, its work directory, the
  * seed, and the tracer its calls into the engine go through. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer) {
  val catalog = "lb"
  def root: String = s"$work/catalog"
  def dirOf(table: String): String = s"$root/$table"
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

object Runner {
  /** Runs as many whole cycles as fill `seconds` at the workload's nominal
    * cycle time, at least one. A fixed count, not a deadline, gives every
    * run the same ops, so a slow first cycle cannot change the op mix. */
  def timed(w: Workload, tracer: Tracer, seconds: Double, log: String => Unit,
      afterOp: OpRec => Unit = _ => ()): Seq[OpRec] = {
    val recs = ArrayBuffer.empty[OpRec]
    (1 to cycles(seconds, w.cycleSeconds)).foreach(_ => w.cycle().foreach { op =>
      recs += execute(recs.size + 1L, op, tracer, log)
      afterOp(recs.last)
    })
    recs.toSeq
  }

  def cycles(seconds: Double, cycleSeconds: Double): Int =
    math.max(1, math.round(seconds / cycleSeconds).toInt)

  /** Runs one op; a throw, a refusal or a model mismatch is its failure. */
  def execute(id: Long, op: Op, tracer: Tracer, log: String => Unit): OpRec = {
    val t0 = System.nanoTime()
    val (rows, failure) =
      try {
        val o = tracer.op(id, op.cls)(op.run())
        (o.rows, o.mismatch)
      } catch {
        case NonFatal(e) => (0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
    val rec = OpRec(id, op.cls, op.write, t0, System.nanoTime(), rows, failure)
    failure.foreach(f => log(s"op $id ${op.cls} FAILED: ${f.take(500)}"))
    rec
  }
}
