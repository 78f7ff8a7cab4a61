package loopbench

import scala.jdk.CollectionConverters._

/** The driver-side reference for a keyed table: key -> value, kept in key
  * order so range reads can be checked exactly. */
final class KvModel {
  private val m = new java.util.TreeMap[java.lang.Long, java.lang.Long]()

  def upsert(rows: Iterable[(Long, Long)]): Unit =
    rows.foreach { case (k, v) => m.put(k, v) }

  /** Removes the keys in [lo, hi] that `pred` selects; returns how many. */
  def delete(lo: Long, hi: Long)(pred: Long => Boolean): Int = {
    val doomed = range(lo, hi).keys.filter(pred)
    doomed.foreach(k => m.remove(k))
    doomed.size
  }

  def get(k: Long): Option[Long] = Option(m.get(k)).map(_.longValue)

  def range(lo: Long, hi: Long): Map[Long, Long] =
    m.subMap(lo, true, hi, true).asScala.iterator
      .map { case (k, v) => (k.longValue, v.longValue) }.toMap

  def size: Int = m.size

  def checksum: Long = m.asScala.iterator.map { case (k, v) => Kv.term(k, v) }.sum
}

object KvModel {
  /** Compares rows read for `asked` keys with the model. Returns the first
    * disagreement, or None. Keys read that were not asked for disagree. */
  def check(model: KvModel, asked: Iterable[Long],
      read: Seq[(Long, Long)]): Option[String] = {
    val got = read.toMap
    if (got.size != read.size) return Some(s"duplicate keys in ${read.size} rows read")
    val askedSet = asked.toSet
    got.keys.find(k => !askedSet(k)).map(k => s"read key $k that was not asked for")
      .orElse(askedSet.iterator.map(k => (k, model.get(k), got.get(k)))
        .collectFirst { case (k, want, have) if want != have =>
          s"key $k: model ${want.getOrElse("absent")}, table ${have.getOrElse("absent")}"
        })
  }

  /** Compares a range read with the model over [lo, hi]. */
  def checkRange(model: KvModel, lo: Long, hi: Long,
      read: Seq[(Long, Long)]): Option[String] = {
    val want = model.range(lo, hi)
    check(model, want.keys ++ read.map(_._1).filter(k => k >= lo && k <= hi), read)
  }
}
