package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.US_ASCII
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import graft.operators.TextPipeline

/** `mr_text`: the paper's two applications over generated text files.
  *
  * - wordcount input: lines drawn Zipf(1.1) from a vocabulary of distinct
  *   lines of 2-10 words (each at most 99 bytes), so keys repeat heavily;
  * - sort input: unsigned 32-bit decimal keys uniform over the whole key
  *   space (so the SortedPartition32 buckets stay balanced), 10 % repeats.
  *
  * The closed loop alternates `TextPipeline.wordCount` and
  * `TextPipeline.distinctSorted`, both with one reduce partition per core.
  * Wordcount writes to the noop sink with its check observed in the same
  * job (the counts sum to the line count, one row per distinct line). The
  * sort's sink walks each output partition and returns its first and last
  * key, so the (bucket, key) order and the distinct count are checked
  * without a second job. */
final class MrText(seed: Long, cores: Int, tr: Tracer) extends Workload {
  import MrText._

  private var spark: SparkSession = _
  private var full, small: Inputs = _
  private var turn = 0

  def setup(s: SparkSession, dir: String): String = {
    spark = s
    val d = new Digest
    val r = Rng(seed, 1)
    val words = Array.fill(Words)(Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(3 + r.nextInt(7)).mkString)
    val vocab = Array.tabulate(Vocab) { i =>
      val k = 2 + r.nextInt(9)
      // the index token keeps vocabulary lines distinct
      (Iterator.fill(k)(words(r.nextInt(Words))).mkString(" ") + " " +
        Integer.toString(i, 36)).takeRight(MaxLine).dropWhile(_ == ' ')
    }
    require(vocab.distinct.length == Vocab, "vocabulary lines must be distinct")
    val cdf = {
      val w = (1 to Vocab).map(k => math.pow(k.toDouble, -ZipfS))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def inputs(sub: String, lines: Int): Inputs = {
      val seen = new Array[Boolean](Vocab)
      val wc = write(s"$dir/$sub/wc", lines, d) { _ =>
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
          case k if k >= 0 => k
          case k => math.min(-k - 1, Vocab - 1)
        }
        seen(i) = true
        vocab(i)
      }
      val keys = new Array[Long](lines)
      var n = 0
      val sort = write(s"$dir/$sub/sort", lines, d) { _ =>
        val k = if (n > 0 && r.nextInt(10) == 0) keys(r.nextInt(n))
          else Integer.toUnsignedLong(r.nextInt())
        keys(n) = k; n += 1
        java.lang.Long.toString(k)
      }
      java.util.Arrays.sort(keys)
      val in = Inputs(lines, wc, seen.count(identity).toLong,
        sort, (1 until lines).count(i => keys(i) != keys(i - 1)) + 1L)
      d.add(in.wcDistinct); d.add(in.sortDistinct)
      in
    }
    full = inputs("full", Lines)
    small = inputs("small", WarmupLines)
    d.hex
  }

  /** Writes `lines` lines over `Files` files; returns their paths. */
  private def write(dir: String, lines: Int, d: Digest)(line: Int => String): Seq[String] = {
    new File(dir).mkdirs()
    val per = (lines + Files - 1) / Files
    (0 until Files).map { f =>
      val path = f"$dir/part-$f%05d.txt"
      val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(path), US_ASCII))
      try (f * per until math.min(lines, (f + 1) * per)).foreach { i =>
        val s = line(i)
        d.add(s); w.write(s); w.write('\n')
      } finally w.close()
      path
    }
  }

  val latencyKinds: Seq[String] = Seq("wordcount", "sort")
  /** The JIT keeps speeding both apps up for several rounds; most of them
    * run on the small input set, the last on the full one. */
  val warmupKinds: Seq[String] =
    Seq.fill(WarmupRounds)(latencyKinds.map("warm_" + _)).flatten ++ latencyKinds

  def nextKind(): String = { turn += 1; latencyKinds((turn - 1) % 2) }
  /** A round is `RoundPairs` wordcount + sort pairs. */
  override def roundEnd: Boolean = turn % (2 * RoundPairs) == 0

  def run(kind: String): Done =
    if (kind.startsWith("warm_")) app(kind.stripPrefix("warm_"), small) else app(kind, full)

  private def app(kind: String, in: Inputs): Done = kind match {
    case "wordcount" =>
      val df = tr.call("mr", "plan")(TextPipeline.wordCount(spark, in.wc, numPartitions = cores))
      val obs = Observation()
      tr.call("mr", "exec")(df.observe(obs, sum(col("cnt").cast("long")).as("total"),
        count(lit(1)).as("keys")).write.format("noop").mode("overwrite").save())
      tr.check {
        val m = obs.get
        Done(m("total") == in.lines.toLong && m("keys") == in.wcDistinct, lines = in.lines)
      }
    case "sort" =>
      val s = spark
      import s.implicits._
      val ds = tr.call("mr", "plan")(
        TextPipeline.distinctSorted(spark, in.sort, numPartitions = cores))
      val shift = bucketShift(cores)
      val parts = tr.call("mr", "exec")(
        ds.mapPartitions(it => summarize(it, shift)).collect())
      tr.check {
        val nonEmpty = parts.filter(_._1 > 0)
        val ordered = nonEmpty.forall(_._6) && nonEmpty.sliding(2).forall {
          case Array(a, b) => before((a._4, a._5), (b._2, b._3))
          case _ => true
        }
        Done(ordered && parts.map(_._1).sum == in.sortDistinct, lines = in.lines)
      }
  }

  def report(ops: Seq[Outcome], wallS: Double): Seq[(String, Double, String)] = {
    def med(k: String) = Stats.median(ops.filter(_.kind == k).map(_.latencyNs / 1e9))
    Seq(("mr.wordcount_s", med("wordcount"), "s"), ("mr.sort_s", med("sort"), "s"),
      ("mr.lines_per_s", ops.filter(_.ok).map(_.lines).sum / wallS, "lines/s"))
  }
}

object MrText {
  /** One input set: its line count, files and distinct keys. */
  final case class Inputs(lines: Int, wc: Seq[String], wcDistinct: Long,
                          sort: Seq[String], sortDistinct: Long)

  val Lines = 300000
  val WarmupLines = 30000
  val Files = 4
  val Vocab = 20000
  val Words = 2000
  val ZipfS = 1.1
  val MaxLine = 99
  val WarmupRounds = 6
  val RoundPairs = 6

  /** floor(log2 n) top bits of the 32-bit key pick the bucket, as in
    * `MapReduce.sortedBucket32`; 32 means a single bucket. */
  def bucketShift(n: Int): Int =
    if (n <= 1) 32 else 32 - (31 - Integer.numberOfLeadingZeros(n))

  private def bucket(k: String, shift: Int): Long =
    if (shift >= 32) 0L else java.lang.Long.parseLong(k) >>> shift

  private def before(a: (Long, String), b: (Long, String)): Boolean =
    a._1 < b._1 || (a._1 == b._1 && a._2.compareTo(b._2) < 0)

  /** (rows, first bucket, first key, last bucket, last key, strictly
    * increasing) of one output partition. */
  def summarize(it: Iterator[String], shift: Int)
      : Iterator[(Long, Long, String, Long, String, Boolean)] = {
    var n = 0L
    var first: (Long, String) = (0L, "")
    var last: (Long, String) = (0L, "")
    var ok = true
    it.foreach { k =>
      val cur = (bucket(k, shift), k)
      if (n == 0) first = cur else if (!before(last, cur)) ok = false
      last = cur; n += 1
    }
    Iterator((n, first._1, first._2, last._1, last._2, ok))
  }
}
