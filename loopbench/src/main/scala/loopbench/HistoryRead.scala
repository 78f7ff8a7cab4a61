package loopbench

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Acid

/** `history_read`: the metadata read path over a read-only table whose log
  * is half again as long as the engine's 64-entry manifest cache, with
  * checkpoints every ten versions, manifests sharded past 256 entries, and
  * a column added mid-history. Each cycle time-travels to every version
  * once, in one seeded order that is the same in every cycle, so each
  * version is read again only after more other versions than the cache
  * holds. A time travel reads the version's manifest and resolves the
  * pinned snapshot. After every block of versions come a full pinned
  * snapshot read, a change feed, a pruned range scan, a catalog SQL read
  * and a latest snapshot. Every result is checked against what was
  * recorded while the fixture was built, one set per version. */
final class HistoryRead(c: Ctx) extends Workload {
  import HistoryRead._

  private val name = "hist"
  private val dir = c.dirOf(name)
  /** key -> (value, has note), as of the latest version. */
  private var latest = Map.empty[Long, (Long, Boolean)]
  private var totals = IndexedSeq.empty[Totals]
  private var deltas = IndexedSeq.empty[Seq[Change]]
  private var plan: Iterator[Seq[Spec]] = Iterator.empty
  private var scanned, planned = 0L

  def prepare(): Unit = {
    val state = mutable.HashMap.empty[Long, (Long, Boolean)]
    val ts = mutable.ArrayBuffer.empty[Totals]
    val ds = mutable.ArrayBuffer.empty[Seq[Change]]
    def record(rows: Seq[(Long, Long)], note: Boolean): Unit = {
      ds += rows.map { case (k, v) =>
        val now = (v, note)
        val was = state.put(k, now)
        Change(k, was, now)
      }
      ts += Totals.of(state)
    }
    val fx = fixture(c.seed)
    c.span("acid.create")(Acid.create(c.spark, dir, frame(fx.init, note = false, 1), "k", InitFiles))
    record(fx.init, note = false)
    fx.commits.zipWithIndex.foreach { case (cm, i) =>
      val note = i + 1 > AddColumnAfter
      if (i + 1 == AddColumnAfter + 1)
        c.span("acid.add_column")(Acid.addColumn(c.spark, dir, Seq("note"), StringType))
      if (cm.merge) c.span("acid.merge")(Acid.merge(c.spark, dir, frame(cm.rows, note, 1), "fixture"))
      else c.span("acid_sql.append")(
        frame(cm.rows, note, AppendFiles).writeTo(s"${c.catalog}.$name").append())
      record(cm.rows, note)
    }
    latest = state.toMap
    totals = ts.toIndexedSeq
    deltas = ds.toIndexedSeq
    plan = HistoryRead.plan(c.seed, totals.size)
  }

  private def frame(rows: Seq[(Long, Long)], note: Boolean, files: Int): DataFrame = {
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)) ++
      (if (note) Seq(StructField("note", StringType)) else Nil))
    c.spark.createDataFrame(c.spark.sparkContext.parallelize(rows.map { case (k, v) =>
      if (note) Row(k, v, s"n$k") else Row(k, v)
    }, files), schema)
  }

  def tables: Seq[String] = Seq(dir)

  def cycleSeconds: Double = 1.5

  override def counters: Map[String, Double] = Map(
    "acid.scan.file_ratio" -> (if (planned == 0) 0.0 else scanned.toDouble / planned))

  def cycle(): Seq[Op] = plan.next().map {
    case TimeTravel(v) => Op("time_travel", write = false, () => timeTravel(v))
    case Pinned(v) => Op("pinned_snapshot", write = false, () => {
      val r = c.span("acid.snapshot")(agg(Acid.snapshot(c.spark, dir, v)))
      Outcome(0L, compare(s"v$v", r, totals(v)))
    })
    case Feed(v0, v1) => Op("change_feed", write = false, () => feed(v0, v1))
    case Scan(lo, hi) => Op("scan_range", write = false, () => scan(lo, hi))
    case Select(lo, hi) => Op("select", write = false, () => select(lo, hi))
    case Latest => Op("snapshot", write = false, () => {
      val v = c.span("acid.latest_version")(Acid.latestVersion(dir))
      val r = c.span("acid.snapshot")(agg(Acid.snapshot(c.spark, dir)))
      Outcome(0L, versionCheck(v, totals.size - 1).orElse(compare(s"latest v$v", r, totals.last)))
    })
  }

  /** The version's manifest and its pinned snapshot, resolved but not
    * scanned: the manifest must list the recorded row count, and the
    * snapshot must carry the added column exactly from the first version
    * committed after it was added. */
  private def timeTravel(v: Int): Outcome = {
    val m = c.span("acid.read_manifest")(Acid.readManifest(dir, v))
    val columns = c.span("acid.time_travel")(Acid.snapshot(c.spark, dir, v).schema.fieldNames)
    val manifestRows = m.files.map(_.rows).sum
    val hasNote = columns.contains("note")
    Outcome(0L, (if (manifestRows == totals(v).rows) None
      else Some(s"manifest v$v lists $manifestRows rows, recorded ${totals(v).rows}"))
      .orElse(if (hasNote == v > AddColumnAfter) None
        else Some(s"v$v columns ${columns.mkString(",")}: note expected ${v > AddColumnAfter}")))
  }

  private def feed(v0: Int, v1: Int): Outcome = {
    val got = c.span("acid.change_feed")(Acid.changeFeed(c.spark, dir, v0, v1)
      .groupBy(col("change_type"))
      .agg(count(lit(1)), sum(col("k") * 31 + col("new_v")))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap)
    val want = netChanges(deltas.slice(v0 + 1, v1 + 1))
    Outcome(0L, if (got == want) None else Some(s"changeFeed($v0, $v1): $got, recorded $want"))
  }

  private def scan(lo: Long, hi: Long): Outcome = {
    val (rows, kept, total) = c.span("acid.scan_range") {
      val (df, kept, all) = Acid.scanRange(c.spark, dir, lo, hi)
      (df.select(col("k"), col("v")).collect().map(r => (r.getLong(0), r.getLong(1))).toMap,
        kept, all)
    }
    scanned += kept; planned += total
    val want = latest.collect { case (k, (v, _)) if k >= lo && k <= hi => (k, v) }
    Outcome(0L, if (rows == want) None
      else Some(s"scanRange($lo, $hi): ${rows.size} rows, recorded ${want.size} (or values differ)"))
  }

  private def select(lo: Long, hi: Long): Outcome = {
    val r = c.span("acid_sql.select")(c.spark.sql(
      s"SELECT count(*), coalesce(sum(k * 31 + v), 0), count(note) " +
        s"FROM ${c.catalog}.$name WHERE k BETWEEN $lo AND $hi").head)
    val want = Totals.of(latest.filter { case (k, _) => k >= lo && k <= hi })
    Outcome(0L, compare(s"SQL [$lo, $hi]", r, want))
  }

  private def agg(df: DataFrame): Row = {
    val notes = if (df.columns.contains("note")) count(col("note")) else lit(0L)
    df.agg(count(lit(1)), coalesce(sum(col("k") * 31 + col("v")), lit(0L)), notes).head
  }

  private def compare(what: String, r: Row, want: Totals): Option[String] = {
    val got = Totals(r.getLong(0), r.getLong(1), r.getLong(2))
    if (got == want) None else Some(s"$what: $got, recorded $want")
  }

  private def versionCheck(v: Int, want: Int): Option[String] =
    if (v == want) None else Some(s"latest version $v, fixture ends at $want")

  /** The fixture has the shape the workload is for: more versions than the
    * manifest cache holds, and more live files than one manifest shard. */
  def finalChecks(): Seq[Op] = Seq(Op("final_shape", write = false, () => {
    val v = Acid.latestVersion(dir)
    val files = Acid.readManifest(dir, v).files.size
    Outcome(0L, versionCheck(v, totals.size - 1).orElse(
      if (v + 1 > 64 && files > 256) None
      else Some(s"fixture has ${v + 1} versions and $files files; wants > 64 and > 256")))
  }))
}

object HistoryRead {
  val InitRows = 26000
  val InitFiles = 8
  /** Commits after the create: 96 versions, half again the engine's
    * 64-entry manifest cache. */
  val Commits = 95
  val AddColumnAfter = 47
  val CommitRows = 50
  /** Files per append: the later checkpoints list more than the 256
    * entries of one manifest shard. */
  val AppendFiles = 3
  /** Seven merges, all before the column is added: a merge after it drops
    * the added column's values from rows of a rewritten file that the
    * batch does not touch (see the pending test in LoopbenchSpec). */
  val MergeEvery = 6

  final case class Totals(rows: Long, checksum: Long, notes: Long)
  object Totals {
    def of(state: collection.Map[Long, (Long, Boolean)]): Totals = {
      var rows, sum, notes = 0L
      state.foreach { case (k, (v, note)) =>
        rows += 1; sum += Kv.term(k, v); if (note) notes += 1
      }
      Totals(rows, sum, notes)
    }
  }

  /** One row's change in one commit; `was` is None for an insert. */
  final case class Change(k: Long, was: Option[(Long, Boolean)], now: (Long, Boolean))

  /** The rows a change feed over these commits reports, by change type:
    * (count, sum of k * 31 + new v). Only the net change per key shows. */
  def netChanges(commits: Seq[Seq[Change]]): Map[String, (Long, Long)] = {
    val first = mutable.LinkedHashMap.empty[Long, Option[(Long, Boolean)]]
    val last = mutable.HashMap.empty[Long, (Long, Boolean)]
    commits.flatten.foreach { ch =>
      if (!first.contains(ch.k)) first(ch.k) = ch.was
      last(ch.k) = ch.now
    }
    first.toSeq.flatMap { case (k, was) =>
      val now = last(k)
      val kind = if (was.isEmpty) Some("insert") else if (was.get != now) Some("update") else None
      kind.map(_ -> Kv.term(k, now._1))
    }.groupBy(_._1).map { case (kind, xs) => kind -> ((xs.size.toLong, xs.map(_._2).sum)) }
  }

  final case class Commit(merge: Boolean, rows: Seq[(Long, Long)])
  final case class Fixture(init: Seq[(Long, Long)], commits: Seq[Commit])

  /** Up to the column's addition, every `MergeEvery`-th commit updates a
    * key window through `Acid.merge`; the other commits append fresh keys
    * past the end of the key space. */
  def fixture(seed: Long): Fixture = {
    val rnd = new Random(seed ^ 0x415c0L)
    val init = Kv.fixture(seed, InitRows).toSeq
    var next = InitRows * Kv.KeyStep
    val commits = (1 to Commits).map { i =>
      if (i % MergeEvery == 0 && i <= AddColumnAfter) {
        val lo = Kv.window(rnd, 0L, InitRows * Kv.KeyStep, 2L * CommitRows)
        Commit(merge = true, Kv.batch(rnd.nextLong(), lo, CommitRows))
      } else {
        val rows = Kv.batch(rnd.nextLong(), next, CommitRows)
        next += 2L * CommitRows
        Commit(merge = false, rows)
      }
    }
    Fixture(init, commits)
  }

  sealed trait Spec
  final case class TimeTravel(v: Int) extends Spec
  final case class Pinned(v: Int) extends Spec
  final case class Feed(v0: Int, v1: Int) extends Spec
  final case class Scan(lo: Long, hi: Long) extends Spec
  final case class Select(lo: Long, hi: Long) extends Spec
  case object Latest extends Spec

  /** Version visits between two rounds of the other reads: two rounds a
    * cycle, so resolving versions is not drowned out by full scans. */
  val Block = 48
  val FeedSpan = 4

  /** The op cycles for `seed`. Every cycle visits all versions in one
    * seeded order, the same each cycle, so a version comes round again
    * only after `versions - 1` others: more than the manifest cache
    * holds. Each block of visits is followed by a full read of one of its
    * versions, a change feed, a range scan, a SQL read and a latest read. */
  def plan(seed: Long, versions: Int): Iterator[Seq[Spec]] = {
    val rnd = new Random(seed ^ 0x4157L)
    val order = rnd.shuffle((0 until versions).toVector)
    val space = InitRows * Kv.KeyStep
    Iterator.continually(order.grouped(Block).toSeq.flatMap { block =>
      val v0 = rnd.nextInt(versions - FeedSpan)
      val lo = Kv.window(rnd, 0L, space, 4000L)
      val lo2 = Kv.window(rnd, 0L, space, 8000L)
      block.map(TimeTravel) ++ Seq(Pinned(block(rnd.nextInt(block.size))),
        Feed(v0, v0 + FeedSpan), Scan(lo, lo + 4000L), Select(lo2, lo2 + 8000L), Latest)
    })
  }
}
