package loopbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets.US_ASCII
import java.nio.file.{Files, Paths}

import scala.util.Random

/** One directory of XML files and what the generator put in it. */
final case class FeedGroup(id: Int, dir: String, files: Int, bytes: Long,
    records: Long, malformed: Long, checksum: Long)

/** Seeded XML feed: namespaced, nested records with attributes, one record
  * in every `MalformedEvery` carrying an unparseable `qty`. The same seed
  * writes byte-identical files. */
object XmlFeed {
  val NodePath = "/feed/rec"
  val MalformedEvery = 40
  private val Kinds = Array("order", "refund", "quote", "transfer")
  private val Words = Array("alpha", "bravo", "delta", "echo", "kilo", "lima",
    "oscar", "romeo", "sierra", "tango", "victor", "zulu")

  /** The checksum term of one good record; `Ingest` computes the same
    * expression over the extracted columns. */
  def term(id: Long, amount: Long, qty: Long, region: Long, items: Long): Long =
    id * 7 + amount * 3 + qty * 11 + region * 13 + items * 17

  /** Writes `smallGroups` groups of `files` x `records` records, then one
    * group holding a single file of at least `bigBytes`. */
  def generate(seed: Long, base: String, smallGroups: Int, files: Int,
      records: Int, bigBytes: Long): IndexedSeq[FeedGroup] = {
    val rnd = new Random(seed)
    var nextId = 1L
    def group(g: Int, nFiles: Int, fill: (FileSink, Random) => Unit): FeedGroup = {
      val dir = Paths.get(base, f"g$g%02d")
      Files.createDirectories(dir)
      var bytes, recs, bad, sum = 0L
      (0 until nFiles).foreach { f =>
        val sink = new FileSink(dir.resolve(f"part$f%03d.xml").toString, nextId)
        try fill(sink, rnd) finally sink.close()
        nextId = sink.nextId
        bytes += sink.bytes; recs += sink.records; bad += sink.malformed
        sum += sink.checksum
      }
      FeedGroup(g, dir.toString, nFiles, bytes, recs, bad, sum)
    }
    val small = (0 until smallGroups).map(g =>
      group(g, files, (sink, r) => (0 until records).foreach(_ => sink.record(r))))
    val big = group(smallGroups, 1, (sink, r) => while (sink.bytes < bigBytes) sink.record(r))
    small :+ big
  }

  /** Streams records into one file, tracking what a reader should find. */
  final class FileSink(path: String, firstId: Long) {
    private val out = new BufferedWriter(new OutputStreamWriter(
      Files.newOutputStream(Paths.get(path)), US_ASCII), 1 << 16)
    var nextId: Long = firstId
    var bytes, records, malformed, checksum = 0L
    private var sinceBad = 0
    private var badAt = -1

    private def write(s: String): Unit = { out.write(s); bytes += s.length }

    write("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
      "<feed xmlns=\"urn:loopbench:feed\" xmlns:m=\"urn:loopbench:meta\">\n")

    def record(rnd: Random): Unit = {
      if (sinceBad == 0) badAt = rnd.nextInt(MalformedEvery)
      val bad = sinceBad == badAt
      sinceBad = (sinceBad + 1) % MalformedEvery
      val id = nextId
      nextId += 1
      val kind = Kinds(rnd.nextInt(Kinds.length))
      val region = rnd.nextInt(25).toLong
      val amount = rnd.nextInt(1000000).toLong
      val qty = 1L + rnd.nextInt(99)
      val items = 1 + rnd.nextInt(3)
      val sb = new StringBuilder(320)
      sb ++= s"""  <rec id="$id" kind="$kind"><m:src region="$region">s${rnd.nextInt(1000)}</m:src>"""
      sb ++= s"<amount>$amount</amount><qty>$qty${if (bad) "x" else ""}</qty><items>"
      (0 until items).foreach { _ =>
        sb ++= s"""<item sku="k${rnd.nextInt(100000)}" n="${1 + rnd.nextInt(9)}"/>"""
      }
      sb ++= "</items><note>"
      (0 until 2 + rnd.nextInt(4)).foreach { i =>
        if (i > 0) sb += ' '
        sb ++= Words(rnd.nextInt(Words.length))
      }
      sb ++= "</note></rec>\n"
      write(sb.result())
      records += 1
      if (bad) malformed += 1 else checksum += term(id, amount, qty, region, items)
    }

    def close(): Unit = { write("</feed>\n"); out.close() }
  }
}

/** Key/value rows for the keyed tables: keys are multiples of `KeyStep`
  * at setup, and batches touch a contiguous key window, so a batch both
  * updates existing keys and inserts new ones between them. */
object Kv {
  val KeyStep = 4L
  val MaxValue = 1000000

  /** The checksum term of one row; queries compute `k * 31 + v`. */
  def term(k: Long, v: Long): Long = k * 31 + v

  def fixture(seed: Long, rows: Int): Array[(Long, Long)] = {
    val rnd = new Random(seed)
    Array.tabulate(rows)(i => (i * KeyStep, rnd.nextInt(MaxValue).toLong))
  }

  /** `size` keys from `lo` in steps of 2: every other one is a setup key. */
  def batch(valueSeed: Long, lo: Long, size: Int): Seq[(Long, Long)] = {
    val rnd = new Random(valueSeed)
    (0 until size).map(j => (lo + 2L * j, rnd.nextInt(MaxValue).toLong))
  }

  /** A window start in [from, until - span), aligned to the key step. */
  def window(rnd: Random, from: Long, until: Long, span: Long): Long =
    from + (rnd.nextLong(math.max(1L, until - span - from)) / KeyStep) * KeyStep

  /** Up to `n` distinct keys drawn from `keys`, plus `extra` from anywhere
    * in [0, space), some of which are absent from the table. */
  def probes(rnd: Random, keys: Seq[Long], n: Int, extra: Int, space: Long): Seq[Long] =
    (rnd.shuffle(keys).take(n) ++ Seq.fill(extra)(rnd.nextLong(space))).distinct
}
