package loopbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Acid

class LoopbenchSpec extends AnyFunSuite {

  private def feed(seed: Long): (Path, IndexedSeq[FeedGroup]) = {
    Files.createDirectories(Paths.get("target"))
    val dir = Files.createTempDirectory(Paths.get("target"), "feed")
    (dir, XmlFeed.generate(seed, dir.toString, 2, 3, 80, 64L << 10))
  }

  private def delete(dir: Path): Unit = {
    val st = Files.walk(dir)
    try st.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists(_))
    finally st.close()
  }

  private def files(dir: Path): Seq[(String, Seq[Byte])] = {
    val st = Files.walk(dir)
    try st.iterator().asScala.filter(Files.isRegularFile(_)).toList
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).sortBy(_._1)
    finally st.close()
  }

  test("the same seed writes a byte-identical XML feed; another seed does not") {
    val (a, ga) = feed(11)
    val (b, gb) = feed(11)
    val (c, _) = feed(12)
    try {
      assert(files(a).nonEmpty)
      assert(files(a) == files(b))
      assert(files(a) != files(c))
      assert(ga.map(g => (g.records, g.malformed, g.checksum)) ==
        gb.map(g => (g.records, g.malformed, g.checksum)))
    } finally Seq(a, b, c).foreach(delete)
  }

  test("the feed carries a fixed share of malformed records and a large last group") {
    val (dir, groups) = feed(3)
    try {
      groups.init.foreach { g =>
        assert(g.records == 3 * 80)
        // one malformed record in every block of MalformedEvery records
        assert(g.malformed == 3 * 80 / XmlFeed.MalformedEvery)
      }
      assert(groups.last.files == 1 && groups.last.bytes >= (64L << 10))
    } finally delete(dir)
  }

  test("the same seed gives the same op sequence in every workload") {
    def cdc(s: Long) = CdcMerge.plan(s).take(4).toList
    def hist(s: Long) = HistoryRead.plan(s, 80).take(3).toList
    assert(cdc(5) == cdc(5) && cdc(5) != cdc(6))
    assert(hist(5) == hist(5) && hist(5) != hist(6))
    assert(HistoryRead.fixture(5) == HistoryRead.fixture(5))
  }

  test("history time travel visits every version once per cycle, in the same order") {
    val versions = HistoryRead.Commits + 1
    val cycles = HistoryRead.plan(9, versions).take(3).toList
      .map(_.collect { case HistoryRead.TimeTravel(v) => v })
    cycles.foreach(t => assert(t.size == versions && t.toSet == (0 until versions).toSet))
    assert(cycles.distinct.size == 1)
    // so a version comes round again only after more others than the
    // engine's 64-entry manifest cache holds
    assert(versions - 1 > 64)
  }

  test("the history fixture merges only before its column is added") {
    val merges = HistoryRead.fixture(9).commits.zipWithIndex.collect { case (c, i) if c.merge => i + 1 }
    assert(merges.size == 7 && merges.max <= HistoryRead.AddColumnAfter)
  }

  // An engine defect, kept here because it is why history_read's fixture
  // merges only before its ADD COLUMN. Acid.mergeAt takes its target
  // schema from the first file of the manifest. When that file predates
  // the added column, the column counts as new in the batch, and the
  // rewrite takes it from the batch alone: rows of a rewritten file that
  // the batch does not touch lose their values. Pending until the engine
  // is fixed; it then fails, as a reminder to merge after the column in
  // the fixture again.
  test("engine: a merge after an ADD COLUMN keeps the column on rows it does not touch") {
    pendingUntilFixed {
      Files.createDirectories(Paths.get("target"))
      val work = Files.createTempDirectory(Paths.get("target").toAbsolutePath, "merge")
      val spark = Main.session(work.toString, 2, "test")
      try {
        val dir = s"$work/t"
        def frame(keys: Seq[Long], note: Boolean) = spark.createDataFrame(
          spark.sparkContext.parallelize(keys.map(k =>
            if (note) Row(k, k * 10, s"n$k") else Row(k, k)), 1),
          StructType(Seq(StructField("k", LongType), StructField("v", LongType)) ++
            (if (note) Seq(StructField("note", StringType)) else Nil)))
        Acid.create(spark, dir, frame(1L to 100L, note = false), "k", 2)
        Acid.addColumn(spark, dir, Seq("note"), StringType)
        Acid.merge(spark, dir, frame(51L to 60L, note = true), "test")
        Acid.merge(spark, dir, frame(Seq(55L), note = true), "test")
        val notes = Acid.snapshot(spark, dir).where(col("note").isNotNull).count()
        assert(notes == 10, "notes of keys 51..60 after the second merge")
      } finally {
        spark.stop()
        delete(work)
      }
    }
  }

  test("the tail percentile is the highest with at least ten samples beyond it") {
    assert(Stats.tail((1 to 20).map(_.toDouble)).isDefined)
    assert(Stats.tail((1 to 19).map(_.toDouble)).isEmpty)
    for (n <- Seq(20, 21, 39, 40, 41, 99, 100, 101, 199, 200, 999, 1000, 10000)) {
      val t = Stats.tail((1 to n).map(_.toDouble)).get
      assert(t.beyond >= Stats.TailMinBeyond, s"n=$n")
      assert(t.samples == n)
      assert(t.value == math.ceil(t.p * n - 1e-9))
      val higher = Stats.TailLadder.filter(_ > t.p)
      assert(higher.forall(p => n - math.ceil(p * n - 1e-9).toInt < Stats.TailMinBeyond),
        s"n=$n: a higher percentile than ${t.p} also had ten samples beyond it")
    }
    assert(Stats.tail((1 to 100).map(_.toDouble)).get.p == 0.9)
    assert(Stats.tail((1 to 1000).map(_.toDouble)).get.p == 0.99)
  }

  test("the class median weights each op class's median by its share of ops") {
    val mix = Seq.fill(4)("keys" -> 0.1) ++ Seq("range" -> 0.2, "range" -> 0.3, "range" -> 0.4,
      "range" -> 0.3, "range" -> 9.0, "range" -> 0.3)
    assert(math.abs(Stats.classMedian(mix) - (4 * 0.1 + 6 * 0.3) / 10) < 1e-12)
    assert(Stats.median(Seq(1.0, 2.0, 3.0, 4.0)) == 2.5)
    assert(Runner.cycles(10, 2.5) == 4 && Runner.cycles(10, 12) == 1 && Runner.cycles(1, 30) == 1)
  }

  test("job time counts overlapping jobs once, clips them to the op, and sums to wall") {
    val (job, gap) = Stats.jobSplit(10.0, 20.0, Seq((12.0, 15.0), (14.0, 16.0), (5.0, 11.0),
      (19.0, 25.0), (30.0, 40.0)))
    assert(job == 4.0 + 1.0 + 1.0)
    assert(job + gap == 10.0)
    assert(Stats.jobSplit(0.0, 3.0, Nil) == ((0.0, 3.0)))
    assert(Stats.jobSplit(0.0, 3.0, Seq((-1.0, 9.0), (1.0, 2.0))) == ((3.0, 0.0)))
  }

  test("an op is the root span of its layer calls, and self time excludes children") {
    val t = new Tracer(true)
    t.op(1L, "merge") {
      t.span("acid.merge")(Thread.sleep(30))
      Thread.sleep(10)
    }
    val Seq(child, root) = t.spans.sortBy(_.name)
    assert(root.name == "op.merge" && root.parent == 0L && root.op == 1L)
    assert(child.parent == root.id && child.op == 1L)
    val self = t.selfTimes
    assert(math.abs(self("acid.merge")._3 - self("acid.merge")._2) < 1e-6)
    assert(math.abs(self("op.merge")._3 - (root.seconds - child.seconds)) < 1e-6)
    assert(new Tracer(false).op(2L, "x")(42) == 42)
  }

  test("a planted model mismatch is a failed op, and op_fail_ratio is above zero") {
    val model = new KvModel
    model.upsert(Seq(1L -> 10L, 2L -> 20L, 3L -> 30L))
    assert(KvModel.check(model, Seq(1L, 2L, 4L), Seq(1L -> 10L, 2L -> 20L)).isEmpty)
    assert(KvModel.check(model, Seq(1L, 2L), Seq(1L -> 10L, 2L -> 21L)).nonEmpty)
    assert(KvModel.check(model, Seq(1L), Seq(1L -> 10L, 3L -> 30L)).nonEmpty)
    assert(KvModel.checkRange(model, 2L, 3L, Seq(2L -> 20L)).nonEmpty)

    val planted = new Workload {
      def prepare(): Unit = ()
      def cycle(): Seq[Op] = (1 to 20).flatMap { n =>
        Seq(Op("probe", write = false, () => Outcome(0L, KvModel.check(model, Seq(2L),
          Seq(2L -> (if (n == 2) 99L else 20L))))),
          Op("boom", write = true, () => if (n == 3) sys.error("refused") else Outcome(1L)))
      }
      def finalChecks(): Seq[Op] = Nil
      def tables: Seq[String] = Nil
      def cycleSeconds: Double = 1.0
    }
    val logged = scala.collection.mutable.ArrayBuffer.empty[String]
    val recs = Runner.timed(planted, new Tracer(false), 0.0, logged += _)
    val failed = recs.count(_.failure.nonEmpty)
    assert(recs.size == 40, "one whole cycle")
    assert(failed == 2, recs.filter(_.failure.nonEmpty))
    assert(failed.toDouble / recs.size > 0.0)
    assert(logged.size == 2)
  }
}
