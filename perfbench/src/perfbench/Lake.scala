package perfbench

import java.io.File
import org.apache.spark.sql.{DataFrame, Row => SRow, SparkSession}
import org.apache.spark.sql.functions.{count, lit, sum}
import graft.operators.MatView
import graft.sources.TxLog

/** Shared by the two lake workloads: typed frames from model rows, and the
  * checked count/sum read every read op ends with. */
abstract class LakeBase(tr: Tracer) extends Workload {
  protected var spark: SparkSession = _

  protected def frame(rows: Seq[(Long, Int, Long)], files: Int): DataFrame = {
    val s = spark
    import s.implicits._
    rows.map { case (id, l, n) => (id, TableModel.Langs(l), n) }
      .toDF("id", "lang", "n").coalesce(files)
  }

  /** (count, sum n) of `df`, the action of a read op. */
  protected def countSum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum("n")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  protected def readCounts(table: String, asOf: Option[Long]): (Long, Long) = {
    val df = tr.call("txlog", "read_plan")(TxLog.read(spark, table, asOf))
    tr.call("txlog", "read_exec")(countSum(df))
  }

  /** Files in the table, files in its log, and on-disk bytes per raw byte
    * written — measured outside any timed op. */
  protected def storageOf(table: String, model: TableModel): Map[String, Double] = {
    def files(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)
    val all = files(new File(table))
    Map(
      "txlog.files_live" -> TxLog.snapshotFiles(spark, table).size.toDouble,
      "txlog.log_files" -> Option(new File(table, "_log").listFiles()).fold(0)(_.length).toDouble,
      "txlog.bytes_per_user_byte" ->
        Layers.ratio(all.map(_.length.toDouble).sum, model.userBytes.toDouble))
  }
}

/** `lake_read`: one table with a long log, read in a seeded mix.
  *
  * Set-up appends `Batches` batches of `Rows` rows with per-file id stats,
  * two files per commit, and two MOR deletes among them, so the log spans
  * several checkpoints and reads apply deletion vectors. Each round of the
  * loop runs 24 reads in a seeded order, in fixed shares: latest `read`,
  * time-travel `read(asOf)` of one of 4 pinned versions, id-range
  * `readWhere` (min/max pruning) and a SQL GROUP BY through the `graft.`
  * catalog (half of them VERSION AS OF a pinned version); then one append,
  * so cached snapshots keep meeting new versions. Every read is checked
  * against the model at the version it read. */
final class LakeRead(seed: Long, tr: Tracer) extends LakeBase(tr) {
  import LakeRead._

  private var table = ""
  private var model: TableModel = _
  private var gen: java.util.SplittableRandom = _
  private var digest: Digest = _
  private val mix = Rng(seed, 3)
  private var nextId = 0L
  private var pinned = IndexedSeq.empty[Long]
  private var round = IndexedSeq.empty[String]
  private var pos = 0
  /** Ops of each kind so far: time-travel reads cycle through the pinned
    * versions and pruned ranges through fifths of the id space, so every
    * round reads a like mix whatever the seed. */
  private val count = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
  private def nth(kind: String): Int = { count(kind) += 1; count(kind) - 1 }

  private def appendBatch(): Long = {
    val b = TableModel.batch(gen, nextId, Rows, digest)
    nextId += Rows
    val v = TxLog.appendWithStats(spark, table, frame(b, 2), "id")
    if (v != model.append(b)) sys.error(s"append landed at $v, expected ${model.version}")
    v
  }

  def setup(s: SparkSession, dir: String): String = {
    spark = s
    table = s"$dir/read"
    model = new TableModel
    gen = Rng(seed, 2)
    digest = new Digest
    nextId = 0L
    var firstDelete = -1L
    (0 until Batches).foreach { b =>
      appendBatch()
      if (DeleteAfter.contains(b)) {
        val lo = gen.nextLong(nextId - Rows / 4)
        digest.add(lo)
        val v = TxLog.deleteWhereMor(spark, table, "id", lo, lo + Rows / 4 - 1)
        require(v == model.delete(lo, lo + Rows / 4 - 1), "delete landed at an unexpected version")
        if (firstDelete < 0) firstDelete = v
      }
    }
    // one version from each quarter of the log after the first delete, so
    // every seed pins a like mix of short and long snapshots, all masked by
    // deletion vectors (a read with vectors costs about twice one without)
    pinned = (0 until Pinned).map(i =>
      firstDelete + ((i + gen.nextDouble()) * (model.version + 1 - firstDelete) / Pinned).toLong)
    pinned.foreach(digest.add)
    digest.hex
  }

  val latencyKinds: Seq[String] = Seq("latest", "asof", "pruned", "sql")
  /** Three ops of each kind, then a read of each pinned version, so the
    * window starts with the JIT and the read-plan cache warm. */
  def warmupKinds: Seq[String] =
    Seq.fill(3)(latencyKinds).flatten ++ pinned.indices.map(i => s"pinned_$i")

  /** A round is `Round`'s reads in a seeded order, then one append. */
  def nextKind(): String = {
    if (pos == 0) round = shuffled(Round) :+ "append"
    val k = round(pos)
    pos = (pos + 1) % round.size
    k
  }
  override def roundEnd: Boolean = pos == 0

  private def shuffled(xs: Seq[String]): IndexedSeq[String] = {
    val a = xs.toArray
    for (i <- a.indices.reverse if i > 0) {
      val j = mix.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  def run(kind: String): Done = kind match {
    case "latest" =>
      val v = tr.call("txlog", "versions")(TxLog.latestVersion(spark, table))
      val got = readCounts(table, None)
      tr.check(Done(v == model.version && got == model.countSum(v), rows = got._1))
    case "asof" => asOf(pinned(nth("asof") % Pinned))
    case p if p.startsWith("pinned_") => asOf(pinned(p.stripPrefix("pinned_").toInt))
    case "pruned" =>
      val lo = ((nth("pruned") % 5 + mix.nextDouble()) * (nextId - Rows) / 5).toLong
      val hi = lo + Rows * 3 / 2
      val df = tr.call("txlog", "read_where_plan")(TxLog.readWhere(spark, table, "id", lo, hi))
      val got = tr.call("txlog", "read_exec")(countSum(df))
      tr.check(Done(got == model.countSum(model.version, r => r.id >= lo && r.id <= hi),
        rows = got._1))
    case "sql" =>
      val k = nth("sql")
      val asOf = if (k % 2 == 0) None else Some(pinned(k / 2 % Pinned))
      val x = mix.nextInt(4000)
      val q = s"SELECT lang, count(*) AS c, sum(n) AS s FROM graft.`$table`" +
        asOf.fold("")(v => s" VERSION AS OF $v") + s" WHERE n >= $x GROUP BY lang"
      val df = tr.call("sql", "analyze")(spark.sql(q))
      val rows = tr.call("sql", "exec")(df.collect())
      tr.check {
        val got = rows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        val want = model.byLang(asOf.getOrElse(model.version), _.n >= x)
          .map { case (k, v) => k -> (v._1, v._2) }
        Done(got == want, rows = got.values.map(_._1).sum)
      }
    case "append" =>
      tr.call("txlog", "append")(appendBatch())
      Done(ok = true)
  }

  private def asOf(v: Long): Done = {
    val got = readCounts(table, Some(v))
    tr.check(Done(got == model.countSum(v), rows = got._1))
  }

  def report(ops: Seq[Outcome], wallS: Double): Seq[(String, Double, String)] = {
    val reads = ops.filter(o => latencyKinds.contains(o.kind)).map(_.latencyNs / 1e6)
    def med(k: String) = Stats.median(ops.filter(_.kind == k).map(_.latencyNs / 1e6))
    latencyKinds.map(k => (s"read.${k}_p50_ms", med(k), "ms")) ++
      Seq(("read.p90_ms", Stats.quantile(reads, 0.9), "ms"),
        ("read.p90_samples", reads.size.toDouble, "count"))
  }

  override def storage(): Map[String, Double] = storageOf(table, model)
}

object LakeRead {
  val Batches = 20
  val Rows = 2000
  val DeleteAfter = Set(6, 13)
  /** Versions that time-travel reads (library and SQL) go back to. */
  val Pinned = 4
  /** The reads of one round: fixed shares, so every window has one mix. */
  val Round: Seq[String] = Seq.fill(7)("latest") ++ Seq.fill(6)("asof") ++
    Seq.fill(5)("pruned") ++ Seq.fill(6)("sql")
}

/** `lake_lifecycle`: the write path, one fresh table per lifecycle.
  *
  * Each lifecycle runs, as one op per step: append x2, MatView.refresh
  * (build), append x2, refresh (incremental), deleteWhereMor, mergeMor,
  * refresh (signed fold), SQL UPDATE through the `graft.` catalog,
  * readChangesCdf over the delete/merge/update range, compact, and a final
  * read. Every step is checked against the model: commit versions, the view
  * against a group-by of the model, the change feed against the model's
  * diff, the read against the model's count and sum. */
final class LakeLifecycle(seed: Long, tr: Tracer) extends LakeBase(tr) {
  import LakeLifecycle._

  private var dir = ""
  private var inputs = IndexedSeq.empty[Cycle]
  private var cycle = 0
  private var step = 0
  private var src, mv = ""
  private var model: TableModel = _
  private var cdfFrom = 0L
  /** Latency of the current lifecycle's steps so far, and finished walls. */
  private var cycleNs = 0L
  val lifecycleNs = scala.collection.mutable.ArrayBuffer[Long]()
  private var lastSrc = ""
  private var lastModel: TableModel = _

  /** Generates the data of `Cycles` lifecycles; lifecycle k uses input
    * k mod `Cycles`, on fresh tables. */
  def setup(s: SparkSession, d: String): String = {
    spark = s
    dir = d
    val r = Rng(seed, 4)
    val digest = new Digest
    def lo(bound: Long) = { val x = r.nextLong(bound); digest.add(x); x }
    inputs = IndexedSeq.fill(Cycles)(Cycle(
      (0 until 4).map(b => TableModel.batch(r, b.toLong * Rows, Rows, digest)),
      deleteLo = lo(2L * Rows), mergeLo = lo(3L * Rows),
      inserts = TableModel.batch(r, 4L * Rows, Rows / 10, digest),
      updateLo = 3L * Rows + lo(Rows / 2)))
    cycle = 0
    begin()
    digest.hex
  }

  private def begin(): Unit = {
    cycle += 1
    src = s"$dir/c$cycle/src"
    mv = s"$dir/c$cycle/mv"
    model = new TableModel
    step = 0
    cycleNs = 0L
  }

  override def recover(): Unit = begin()
  override def startWindow(): Unit = lifecycleNs.clear()

  val warmupKinds: Seq[String] = Steps
  val latencyKinds: Seq[String] = Steps.distinct

  def nextKind(): String = Steps(step)
  /** A round is two lifecycles: the window then always holds two, as the
    * second lifecycle of a process runs faster than the first. */
  override def roundEnd: Boolean = step == 0 && cycle % 2 == 0

  private def mvMatches(v: Long): Boolean = {
    val got = TxLog.read(spark, mv).select("lang", "cnt", "total", "vmin", "vmax").collect()
      .map(r => r.getString(0) -> (long(r, 1), long(r, 2), long(r, 3), long(r, 4))).toMap
    got == model.byLang(v)
  }

  private def append(b: Int): Done = {
    val rows = inputs((cycle - 1) % Cycles).batches(b)
    val v = tr.call("txlog", "append")(TxLog.appendWithStats(spark, src, frame(rows, 1), "id"))
    tr.check(Done(v == model.append(rows)))
  }

  private def refresh(want: String): Done = {
    val mode = tr.callNamed("matview")(
      MatView.refresh(spark, src, mv, Seq("lang"), "n"))(m => s"refresh_$m")
    tr.check(Done(mode == want && mvMatches(model.version)))
  }

  def run(kind: String): Done = {
    require(kind == Steps(step), s"lifecycle step ${Steps(step)} expected, got $kind")
    val t0 = System.nanoTime()
    val checkBefore = tr.checkNs
    val in = inputs((cycle - 1) % Cycles)
    val done = step match {
      case 0 => append(0)
      case 1 => append(1)
      case 2 => refresh("build")
      case 3 => append(2)
      case 4 => append(3)
      case 5 =>
        cdfFrom = model.version
        refresh("incremental")
      case 6 =>
        val lo = in.deleteLo
        val hi = lo + Rows / 5
        val v = tr.call("txlog", "delete_mor")(TxLog.deleteWhereMor(spark, src, "id", lo, hi))
        tr.check(Done(v == model.delete(lo, hi)))
      case 7 =>
        // half updates of live ids (n + 1000), half new ids
        val lo = in.mergeLo
        val upd = model.liveIn(lo, lo + Rows / 10).map(r => (r.id, r.lang, r.n + 1000))
        val ins = in.inserts
        val v = tr.call("txlog", "merge_mor")(
          TxLog.mergeMor(spark, src, frame(upd ++ ins, 1), Seq("id")))
        tr.check(Done(v == model.merge(upd ++ ins)))
      case 8 => refresh("incremental-delete")
      case 9 =>
        // a range in the last batch, which no delete or merge touched
        val lo = in.updateLo
        val hi = lo + Rows / 10
        val upd = model.liveIn(lo, hi).map(r => (r.id, r.lang, r.n + 7))
        tr.call("sql", "update")(
          spark.sql(s"UPDATE graft.`$src` SET n = n + 7 WHERE id >= $lo AND id <= $hi"))
        tr.check(Done(upd.nonEmpty && model.merge(upd) == TxLog.latestVersion(spark, src)))
      case 10 =>
        val to = model.version
        val rows = tr.call("txlog", "cdf")(TxLog.readChangesCdf(spark, src, cdfFrom, to)
          .select("id", "lang", "n", "_change_type").collect())
        tr.check {
          val got = rows.groupBy(r => (r.getLong(0), r.getString(1), r.getLong(2)))
            .map { case (k, rs) => k -> rs.map(r =>
              if (r.getString(3) == "insert") 1L else -1L).sum }
            .filter(_._2 != 0)
          Done(got == model.diff(cdfFrom, to), rows = rows.length)
        }
      case 11 =>
        val v = tr.call("txlog", "compact")(TxLog.compact(spark, src))
        tr.check(Done(v == model.rewrite()))
      case 12 =>
        val v = tr.call("txlog", "versions")(TxLog.latestVersion(spark, src))
        val got = readCounts(src, None)
        tr.check(Done(v == model.version && got == model.countSum(v), rows = got._1))
    }
    cycleNs += System.nanoTime() - t0 - (tr.checkNs - checkBefore)
    step += 1
    if (step == Steps.size) {
      lifecycleNs += cycleNs
      lastSrc = src
      lastModel = model
      begin()
    }
    done
  }

  def report(ops: Seq[Outcome], wallS: Double): Seq[(String, Double, String)] =
    Seq(("lake.lifecycle_s", Stats.median(lifecycleNs.map(_ / 1e9).toSeq), "s"),
      ("lake.lifecycles", lifecycleNs.size.toDouble, "count"))

  override def storage(): Map[String, Double] =
    if (lastSrc.isEmpty) Map.empty else storageOf(lastSrc, lastModel)
}

object LakeLifecycle {
  val Rows = 2000
  val Cycles = 8

  final case class Cycle(batches: Seq[Seq[(Long, Int, Long)]], deleteLo: Long,
                         mergeLo: Long, inserts: Seq[(Long, Int, Long)], updateLo: Long)

  val Steps: Seq[String] = Seq("append", "append", "refresh_build", "append", "append",
    "refresh_incr", "delete_mor", "merge_mor", "refresh_fold", "sql_update", "cdf",
    "compact", "read")

  private def long(r: SRow, i: Int): Long = r.get(i).asInstanceOf[Number].longValue
}
