package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import scala.collection.mutable

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "0" else java.lang.Double.toString(x)
}

/** SHA-256 over everything a workload generates, printed per run so two runs
  * can show that they saw the same inputs. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(s: String): Unit = md.update(s.getBytes(UTF_8))
  def add(x: Long): Unit = add(java.lang.Long.toString(x) + ";")
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

/** Seeded random streams: the same (seed, stream) gives the same draws, and
  * different seeds give unrelated streams (a split, not an offset, of the
  * seed's generator). */
object Rng {
  def apply(seed: Long, stream: Int): SplittableRandom = {
    val root = new SplittableRandom(seed)
    (0 until stream).foreach(_ => root.nextLong())
    root.split()
  }
}

/** One row of the lake tables: (id, lang, n). */
final class Row(val id: Long, val lang: Int, val n: Long, val added: Long) {
  var deleted: Long = Long.MaxValue
  def liveAt(v: Long): Boolean = added <= v && v < deleted
}

/** The expected content of a TxLog table at every version, kept by replaying
  * each committed operation: a row is live at v iff added <= v < deleted. */
final class TableModel {
  import TableModel._

  val rows = mutable.ArrayBuffer[Row]()
  private val live = mutable.LinkedHashMap[Long, Row]()
  /** Latest committed version; -1 before the first commit. */
  var version = -1L
  /** Raw bytes of every row ever written (8 + 8 + lang), the base of
    * `txlog.bytes_per_user_byte`. */
  var userBytes = 0L

  private def add(id: Long, lang: Int, n: Long): Unit = {
    live.get(id).foreach(_.deleted = version)
    val r = new Row(id, lang, n, version)
    rows += r
    live(id) = r
    userBytes += 16 + Langs(lang).length
  }

  def append(batch: Seq[(Long, Int, Long)]): Long = {
    version += 1
    batch.foreach { case (id, l, n) => add(id, l, n) }
    version
  }

  /** Rows live now with id in [lo, hi]. */
  def liveIn(lo: Long, hi: Long): Seq[Row] =
    live.valuesIterator.filter(r => r.id >= lo && r.id <= hi).toSeq

  /** MOR delete of ids in [lo, hi]; no commit when nothing matches. */
  def delete(lo: Long, hi: Long): Long = {
    val hit = liveIn(lo, hi)
    if (hit.nonEmpty) {
      version += 1
      hit.foreach { r => r.deleted = version; live.remove(r.id) }
    }
    version
  }

  /** Upsert keyed on id: a live id is replaced, any other id inserted. */
  def merge(batch: Seq[(Long, Int, Long)]): Long = {
    version += 1
    batch.foreach { case (id, l, n) => add(id, l, n) }
    version
  }

  /** A commit that changes no rows (compaction). */
  def rewrite(): Long = { version += 1; version }

  def at(v: Long): Iterator[Row] = rows.iterator.filter(_.liveAt(v))

  def countSum(v: Long, p: Row => Boolean = _ => true): (Long, Long) =
    at(v).filter(p).foldLeft((0L, 0L))((a, r) => (a._1 + 1, a._2 + r.n))

  /** lang -> (count, sum n, min n, max n) over the rows live at v. */
  def byLang(v: Long, p: Row => Boolean = _ => true): Map[String, (Long, Long, Long, Long)] =
    at(v).filter(p).toSeq.groupBy(r => Langs(r.lang)).map { case (k, rs) =>
      k -> (rs.size.toLong, rs.map(_.n).sum, rs.map(_.n).min, rs.map(_.n).max)
    }

  /** Signed multiset live(to) - live(from), as the change feed must net out. */
  def diff(from: Long, to: Long): Map[(Long, String, Long), Long] = {
    val acc = mutable.Map[(Long, String, Long), Long]().withDefaultValue(0L)
    at(to).foreach(r => acc((r.id, Langs(r.lang), r.n)) += 1)
    at(from).foreach(r => acc((r.id, Langs(r.lang), r.n)) -= 1)
    acc.filter(_._2 != 0).toMap
  }
}

object TableModel {
  val Langs: Array[String] = Array("en", "de", "fr", "es", "it", "pt", "nl", "sv")
  /** Skewed language mix: "en" most frequent. */
  private val LangCdf = {
    val w = Langs.indices.map(i => 1.0 / (i + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }

  /** `count` rows with consecutive ids from `firstId`, n in [1, 5000]. */
  def batch(r: SplittableRandom, firstId: Long, count: Int,
            d: Digest): Seq[(Long, Int, Long)] =
    (0 until count).map { i =>
      val u = r.nextDouble()
      val lang = LangCdf.indexWhere(u < _) match { case -1 => 0; case k => k }
      val row = (firstId + i, lang, 1L + r.nextInt(5000))
      d.add(row._1); d.add(row._2.toLong); d.add(row._3)
      row
    }
}
