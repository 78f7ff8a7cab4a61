package loopbench

import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.util.Random

import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.Acid

/** `cdc_merge`: writes beside reads on one keyed table. Each cycle lands
  * three key-clustered upsert batches: `Acid.merge`, SQL `MERGE INTO`, and
  * one streaming epoch, where a CDC arrival file is drained with
  * `Trigger.AvailableNow` and `maxFilesPerTrigger = 1` and its
  * `foreachBatch` merges through `Acid.merge` with the batch id as the
  * exactly-once token. Then three deletes: SQL `DELETE FROM`,
  * merge-on-read and positional. A read-your-writes `scanKeys` or
  * `scanRange` check follows each write, and `optimize` and `vacuum` run
  * inline at the end of the cycle. At the end, replaying the last epoch's
  * batch id must change nothing. */
final class CdcMerge(c: Ctx) extends Workload {
  import CdcMerge._

  private var t: KvTable = _
  private var plan: Iterator[Seq[Spec]] = Iterator.empty
  private var merges = 0
  private var rewriteRatio = 0.0
  private var inbox = ""
  private var checkpoint = ""
  private var arrivals = 0
  @volatile private var lastBatch = -1L
  private var lastArrival = Seq.empty[(Long, Long)]

  def prepare(): Unit = {
    t = new KvTable(c, "kv")
    t.create(Kv.fixture(c.seed, FixtureRows), TableFiles)
    plan = CdcMerge.plan(c.seed)
    inbox = s"${c.work}/inbox"
    checkpoint = s"${c.work}/checkpoint"
    Files.createDirectories(Paths.get(inbox))
  }

  def tables: Seq[String] = Seq(t.dir)

  def cycleSeconds: Double = 6.0

  override def counters: Map[String, Double] = Map(
    "acid.merge.rewrite_ratio" -> (if (merges == 0) 0.0 else rewriteRatio / merges),
    "acid.scan.file_ratio" -> (if (t.planned == 0) 0.0 else t.scanned.toDouble / t.planned))

  def cycle(): Seq[Op] = plan.next().map {
    case Upsert(lo, valueSeed, how) =>
      Op(how, write = true, () => upsert(Kv.batch(valueSeed, lo, BatchSize), how))
    case Probe(keys) => Op("scan_keys", write = false, () => t.probe(keys))
    case Range(lo, hi, after) => Op(s"scan_range_$after", write = false, () => t.range(lo, hi))
    case d: Delete => Op(s"delete_${d.how}", write = true, () => delete(d))
    case Optimize => Op("optimize", write = true, () => {
      c.span("acid.optimize")(Acid.optimize(c.spark, t.dir, TableFiles))
      Outcome()
    })
    case Vacuum => Op("vacuum", write = true, () => {
      c.span("acid.vacuum")(Acid.vacuum(c.spark, t.dir, t.latest()))
      Outcome()
    })
  }

  private def upsert(rows: Seq[(Long, Long)], how: String): Outcome = {
    val before = t.latest()
    val problem = how match {
      case "merge" =>
        val r = c.span("acid.merge")(Acid.merge(c.spark, t.dir, t.frame(rows, "cdc"), "loopbench"))
        merges += 1
        rewriteRatio += r.filesRewritten.toDouble / math.max(1, r.filesTotal)
        None
      case "merge_into" =>
        t.frame(rows, "cdc").createOrReplaceTempView("lb_cdc_batch")
        c.span("acid_sql.merge_into")(c.spark.sql(
          s"""MERGE INTO ${t.sqlName} t USING lb_cdc_batch b ON t.k = b.k
             |WHEN MATCHED THEN UPDATE SET t.v = b.v, t.tag = b.tag
             |WHEN NOT MATCHED THEN INSERT (k, v, tag) VALUES (b.k, b.v, b.tag)""".stripMargin))
        None
      case _ => epoch(rows)
    }
    t.model.upsert(rows)
    Outcome(rows.size.toLong, problem.orElse(visible(before)))
  }

  /** Lands one arrival file and drains it as exactly one micro-batch. */
  private def epoch(rows: Seq[(Long, Long)]): Option[String] = {
    val tmp = Paths.get(c.work, f"arrival_$arrivals%06d.tmp")
    Files.write(tmp, rows.map { case (k, v) => s"$k,$v,epoch" }.mkString("", "\n", "\n")
      .getBytes(US_ASCII))
    // a rename, so the file source never lists a half-written file
    Files.move(tmp, Paths.get(inbox, f"arrival_$arrivals%06d.csv"), StandardCopyOption.ATOMIC_MOVE)
    arrivals += 1
    val seen = lastBatch
    c.span("streaming.epoch") {
      c.spark.readStream.schema(KvTable.Schema)
        .option("maxFilesPerTrigger", "1")
        .csv(inbox)
        .writeStream
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", checkpoint)
        .foreachBatch { (batch: Dataset[Row], id: Long) =>
          c.span("acid.merge")(Acid.merge(c.spark, t.dir, batch, StreamWriter, id))
          lastBatch = id
        }
        .start()
        .awaitTermination()
    }
    lastArrival = rows
    if (lastBatch == seen + 1) None else Some(s"epoch ran batch $lastBatch after $seen")
  }

  private def delete(d: Delete): Outcome = {
    val before = t.latest()
    val pred = col("k").between(d.lo, d.hi) && pmod(col("k"), lit(3L)) === d.residue
    val hint = Some((d.lo, d.hi))
    val removed: Option[Long] = d.how match {
      case "sql" =>
        c.span("acid_sql.delete")(c.spark.sql(s"DELETE FROM ${t.sqlName} " +
          s"WHERE k BETWEEN ${d.lo} AND ${d.hi} AND pmod(k, 3) = ${d.residue}"))
        None
      case "mor" =>
        Some(c.span("acid.delete")(Acid.deleteWhereMor(c.spark, t.dir, pred, hint, "loopbench"))._1)
      case _ =>
        Some(c.span("acid.delete")(
          Acid.deleteWherePositional(c.spark, t.dir, pred, hint, "loopbench"))._1)
    }
    val expected = t.model.delete(d.lo, d.hi)(k => Math.floorMod(k, 3L) == d.residue)
    val miscount = removed.filter(_ != expected.toLong)
      .map(n => s"delete_${d.how} removed $n rows, model $expected")
    Outcome(0L, miscount.orElse(if (expected > 0) visible(before) else None))
  }

  /** A write's commit must be the next version, visible to a fresh read. */
  private def visible(before: Int): Option[String] = {
    val now = t.latest()
    if (now == before + 1) None else Some(s"expected version ${before + 1} visible, latest is $now")
  }

  def finalChecks(): Seq[Op] = Seq(
    Op("replay", write = true, () => {
      val before = t.latest()
      val r = c.span("acid.merge")(
        Acid.merge(c.spark, t.dir, t.frame(lastArrival, "epoch"), StreamWriter, lastBatch))
      val now = t.latest()
      Outcome(0L, if (r.skipped && now == before) None
        else Some(s"replaying batch $lastBatch was not a no-op: skipped=${r.skipped}, " +
          s"version $before -> $now"))
    }),
    Op("final_snapshot", write = false, () => t.snapshotCheck()))
}

object CdcMerge {
  val FixtureRows = 100000
  val TableFiles = 8
  val BatchSize = 2000
  val DeleteSpan = 6000L
  val Space: Long = FixtureRows * Kv.KeyStep
  val StreamWriter = "loopbench-stream"

  sealed trait Spec
  /** `how` is `merge`, `merge_into` or `epoch`. */
  final case class Upsert(lo: Long, valueSeed: Long, how: String) extends Spec
  final case class Probe(keys: Seq[Long]) extends Spec
  /** `after` names the delete before it: the three read different
    * deletion-vector states, so each is its own op class. */
  final case class Range(lo: Long, hi: Long, after: String) extends Spec
  final case class Delete(how: String, lo: Long, hi: Long, residue: Long) extends Spec
  case object Optimize extends Spec
  case object Vacuum extends Spec

  /** The op cycles for `seed`. Merge-on-read deletes stay in the lower
    * two fifths of the key space and positional ones in the upper two, so
    * no file carries both kinds of deletion vector before `optimize`
    * folds them away at the end of the cycle. */
  def plan(seed: Long): Iterator[Seq[Spec]] = {
    val rnd = new Random(seed ^ 0x5eedcdcL)
    Iterator.continually {
      def upsert(how: String): Seq[Spec] = {
        val lo = Kv.window(rnd, 0L, Space, 2L * BatchSize)
        val u = Upsert(lo, rnd.nextLong(), how)
        val keys = (0 until BatchSize).map(j => lo + 2L * j)
        Seq(u, Probe(Kv.probes(rnd, keys, 30, 10, Space)))
      }
      def delete(how: String, from: Long, until: Long): Seq[Spec] = {
        val lo = Kv.window(rnd, from, until, DeleteSpan)
        val d = Delete(how, lo, lo + DeleteSpan, rnd.nextInt(3).toLong)
        Seq(d, Range(d.lo, d.hi, how))
      }
      upsert("merge") ++ upsert("merge_into") ++ upsert("epoch") ++
        delete("sql", 0L, Space) ++
        delete("mor", 0L, Space * 2 / 5) ++
        delete("pos", Space * 3 / 5, Space) ++
        Seq(Optimize, Vacuum)
    }
  }
}
