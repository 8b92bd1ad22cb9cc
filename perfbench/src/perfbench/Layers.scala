package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Turns a traced window (client spans + listener records) into the
  * per-layer metrics, a per-op-kind breakdown and a span dump.
  *
  * Time split: every instant of an op is charged to the deepest interval
  * active at that instant — exec (first task launch → last task end of a
  * stage) over sched (stage, then job wall) over the innermost client span
  * (its layer: mr / txlog / sql / matview / check) over the op itself
  * (`bench`: the client loop). The charges of an op sum to its wall time;
  * `driver` is everything outside a job. */
final class Layers(tr: Tracer, ops: Seq[Outcome], cores: Int) {
  import Layers._

  private val spans = tr.spans
  private val jobs = tr.jobs.values.asScala.toSeq.sortBy(_.id)
  private val stages = tr.stages.values.asScala.toSeq
  private val traced = ops.filter(_.span >= 0)
  private val opOf: Map[Int, Outcome] = traced.map(o => o.span -> o).toMap

  private def opIdOf(j: JobRec): Int =
    if (j.span >= 0 && j.span < spans.size) spans(j.span).op
    else traced.map(o => spans(o.span))
      .find(s => s.start - Slack <= j.start && j.start <= s.end + Slack)
      .fold(-1)(_.id)

  private val jobsByOp: Map[Int, Seq[JobRec]] = jobs.groupBy(opIdOf)

  /** A stage belongs to the latest-starting job that lists it and had
    * started by the stage's submission (a shared map stage runs once). */
  private val stagesByJob: Map[Int, Seq[StageRec]] = stages.flatMap { s =>
    jobs.filter(j => j.stageIds.contains(s.id) && j.start <= s.submit + Slack)
      .sortBy(_.start).lastOption.map(_.id -> s)
  }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }

  private def jobStages(j: JobRec) = stagesByJob.getOrElse(j.id, Nil)

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))

  val views: Seq[OpView] = traced.map { o =>
    val root = spans(o.span)
    val js = jobsByOp.getOrElse(root.id, Nil)
    val ss = js.flatMap(jobStages)
    val ivs = mutable.ArrayBuffer[Iv]()
    spans.iterator.filter(s => s.op == root.id && s.id != root.id)
      .foreach(s => ivs += Iv(s.start, s.end, depth(s), s.layer))
    js.foreach(j => ivs += Iv(j.start, j.end, 1000, "sched"))
    ss.foreach { s =>
      ivs += Iv(s.submit, s.complete, 1001, "sched")
      if (s.tasks > 0) ivs += Iv(s.firstLaunch, s.lastFinish, 1002, "exec")
    }
    val scan = js.map(_.execId).distinct.flatMap(e => Option(tr.scans.get(e)))
      .foldLeft(ScanRec(0, 0))((a, b) => ScanRec(a.files + b.files, a.rows + b.rows))
    OpView(o, root, js, ss, charge(root.start, root.end, ivs.toSeq),
      union(root.start, root.end, js.map(j => (j.start, j.end))), scan)
  }

  private def callSpans(layer: String, name: String): Seq[Span] =
    spans.toSeq.filter(s => s.layer == layer && s.name == name && opOf.contains(s.op))

  private def callMs(layer: String, name: String): Double =
    Stats.median(callSpans(layer, name).map(s => (s.end - s.start) / 1e6))

  /** Jobs launched under span `s` or any span below it. */
  private def jobsUnder(s: Span): Int = {
    val ids = mutable.Set(s.id)
    spans.iterator.filter(_.op == s.op).foreach(x => if (ids(x.parent)) ids += x.id)
    jobsByOp.getOrElse(s.op, Nil).count(j => ids(j.span))
  }

  def metrics(storage: Map[String, Double], overheadFrac: Double): Map[String, Double] = {
    val n = views.size.max(1).toDouble
    val wall = views.map(_.root).map(s => (s.end - s.start).toDouble).sum
    val gap = views.map(v => (v.root.end - v.root.start - v.jobUnionNs).toDouble)
    def perOp(f: StageRec => Long) = views.map(_.stages.map(f).sum).sum.toDouble / n
    val allStages = views.flatMap(_.stages)
    val tiny = views.flatMap(_.jobs).filter(j => jobStages(j).map(_.runMs).sum < 10)
    val waits = allStages.flatMap(s => s.launchMs.map(l => (l * 1000000L - s.submit) / 1e6))

    val mr = views.filter(v => spans.exists(s => s.op == v.root.id && s.layer == "mr"))
    val mrSplit = mr.map(mrStages)
    val mrLines = mr.map(_.o.lines).sum.toDouble
    val reads = views.filter(v => v.scan.files > 0 &&
      spans.exists(s => s.op == v.root.id && (s.layer == "txlog" || s.layer == "sql")))
    val pruned = views.filter(v => spans.exists(s => s.op == v.root.id && s.name == "read_where_plan"))
    val live = storage.getOrElse("txlog.files_live", 0.0)
    val sqlOps = views.filter(v => spans.exists(s => s.op == v.root.id && s.layer == "sql"))
    val refreshes = spans.toSeq.filter(s => s.layer == "matview" && opOf.contains(s.op))
    val afterBuild = refreshes.filter(_.name != "refresh_build")

    Map(
      "driver.gap_s" -> gap.sum / n / 1e9,
      "driver.gap_frac" -> ratio(gap.sum, wall),
      "sched.jobs" -> views.map(_.jobs.size).sum / n,
      "sched.stages" -> views.map(_.stages.size).sum / n,
      "sched.tasks" -> perOp(_.tasks.toLong),
      "sched.tiny_job_ms" -> Stats.median(tiny.map(j => (j.end - j.start) / 1e6)),
      "sched.task_wait_ms" -> Stats.median(waits),
      "exec.run_s" -> perOp(_.runMs) / 1e3,
      "exec.cpu_s" -> perOp(_.cpuNs) / 1e9,
      "exec.gc_s" -> perOp(_.gcMs) / 1e3,
      "exec.deser_s" -> perOp(_.deserMs) / 1e3,
      "exec.busy_frac" -> ratio(allStages.map(_.runMs).sum * 1e6, wall * cores),
      "exec.input_bytes" -> perOp(_.inBytes),
      "exec.input_records" -> perOp(_.inRecords),
      "exec.shuffle_write_bytes" -> perOp(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> perOp(_.shuffleRead),
      "exec.spill_bytes" -> perOp(_.spill),
      "mr.plan_ms" -> callMs("mr", "plan"),
      "mr.map_stage_s" -> Stats.mean(mrSplit.map(_._1)),
      "mr.reduce_stage_s" -> Stats.mean(mrSplit.map(_._2)),
      "mr.order_stage_s" -> Stats.mean(mrSplit.map(_._3)),
      "mr.reduce_task_skew" -> Stats.mean(mrSplit.map(_._4)),
      "mr.shuffle_bytes_per_line" ->
        ratio(mr.flatMap(_.stages).map(_.shuffleWrite.toDouble).sum, mrLines),
      "txlog.append_ms" -> callMs("txlog", "append"),
      "txlog.delete_mor_ms" -> callMs("txlog", "delete_mor"),
      "txlog.merge_mor_ms" -> callMs("txlog", "merge_mor"),
      "txlog.compact_ms" -> callMs("txlog", "compact"),
      "txlog.cdf_ms" -> callMs("txlog", "cdf"),
      "txlog.versions_ms" -> callMs("txlog", "versions"),
      "txlog.read_plan_ms" -> callMs("txlog", "read_plan"),
      "txlog.read_where_plan_ms" -> callMs("txlog", "read_where_plan"),
      "txlog.read_exec_ms" -> callMs("txlog", "read_exec"),
      "txlog.files_live" -> live,
      "txlog.files_scanned" -> Stats.mean(reads.map(_.scan.files.toDouble)),
      "txlog.prune_keep_frac" -> ratio(Stats.mean(pruned.map(_.scan.files.toDouble)), live),
      "txlog.rows_returned_per_scanned" ->
        ratio(reads.map(_.o.rows.toDouble).sum, reads.map(_.scan.rows.toDouble).sum),
      "txlog.bytes_per_user_byte" -> storage.getOrElse("txlog.bytes_per_user_byte", 0.0),
      "txlog.log_files" -> storage.getOrElse("txlog.log_files", 0.0),
      "sql.analyze_ms" -> callMs("sql", "analyze"),
      "sql.exec_ms" -> callMs("sql", "exec"),
      "sql.jobs" -> Stats.mean(sqlOps.map(_.jobs.size.toDouble)),
      "matview.refresh_build_ms" -> callMs("matview", "refresh_build"),
      "matview.refresh_incr_ms" -> callMs("matview", "refresh_incremental"),
      "matview.refresh_fold_ms" -> callMs("matview", "refresh_incremental-delete"),
      "matview.refresh_jobs" -> Stats.mean(refreshes.map(s => jobsUnder(s).toDouble)),
      "matview.incremental_frac" -> ratio(
        afterBuild.count(_.name.startsWith("refresh_incremental")).toDouble,
        afterBuild.size.toDouble),
      "trace.overhead_frac" -> overheadFrac)
  }

  /** (map, reduce, order) stage wall seconds of one MapReduce op, and the
    * reduce stage's task skew. Map stages read the text files; the order
    * stages are those of the op's last job; the rest are the reduce side. */
  private def mrStages(v: OpView): (Double, Double, Double, Double) = {
    val last = v.jobs.sortBy(_.start).lastOption.map(_.id).getOrElse(-1)
    val lastStages = stagesByJob.getOrElse(last, Nil).toSet
    val (map, rest) = v.stages.partition(_.inRecords > 0)
    val (order, reduce) = rest.partition(lastStages)
    def wall(ss: Seq[StageRec]) = ss.map(s => (s.complete - s.submit) / 1e9).sum
    val skew = reduce.sortBy(-_.runMs).headOption.map { s =>
      val med = Stats.median(s.taskRunMs.map(_.toDouble).toSeq)
      if (med > 0) s.taskRunMs.max / med else 0.0
    }.getOrElse(0.0)
    (wall(map), wall(reduce), wall(order), skew)
  }

  /** Per op kind: count, median wall, mean charged ms per layer, jobs per
    * op, and how far the charges miss the wall (0 by construction). */
  def table(): Seq[String] = {
    val layers = Seq("bench", "check", "mr", "txlog", "sql", "matview", "sched", "exec")
    val head = f"${"kind"}%-14s ${"n"}%4s ${"wall_ms"}%9s " +
      layers.map(l => f"$l%8s").mkString(" ") + f" ${"jobs"}%6s ${"resid"}%7s"
    head +: views.groupBy(_.o.kind).toSeq.sortBy(_._1).map { case (k, vs) =>
      val walls = vs.map(v => (v.root.end - v.root.start).toDouble)
      val per = layers.map(l => Stats.mean(vs.map(_.layerNs.getOrElse(l, 0L) / 1e6)))
      val resid = ratio(vs.map(v => math.abs(v.layerNs.values.sum -
        (v.root.end - v.root.start)).toDouble).sum, walls.sum)
      f"$k%-14s ${vs.size}%4d ${Stats.median(walls) / 1e6}%9.1f " +
        per.map(x => f"$x%8.1f").mkString(" ") +
        f" ${Stats.mean(vs.map(_.jobs.size.toDouble))}%6.1f ${resid}%7.4f"
    }
  }

  /** The spans of the window as JSON: client spans, jobs, stages and the
    * exec interval of each stage, each with its parent, op and self time. */
  def dump(): String = {
    val sb = new StringBuilder("[")
    def emit(id: String, name: String, layer: String, start: Long, end: Long,
             parent: String, op: String, self: Long): Unit = {
      if (sb.length > 1) sb.append(",\n")
      sb.append(s"""{"id":"$id","name":${Json.str(name)},"layer":"$layer",""" +
        s""""start_ns":$start,"end_ns":$end,"parent":${Json.str(parent)},""" +
        s""""op":"$op","self_ns":$self}""")
    }
    views.foreach { v =>
      val op = s"c${v.root.id}"
      val inOp = spans.filter(_.op == v.root.id)
      inOp.foreach { s =>
        val kids = inOp.filter(_.parent == s.id).map(c => (c.start, c.end)) ++
          v.jobs.filter(_.span == s.id).map(j => (j.start, j.end))
        emit(s"c${s.id}", s.name, if (s.id == s.op) "bench" else s.layer, s.start, s.end,
          if (s.parent < 0) null else s"c${s.parent}", op,
          s.end - s.start - union(s.start, s.end, kids.toSeq))
      }
      v.jobs.foreach { j =>
        val ss = jobStages(j)
        emit(s"j${j.id}", s"job ${j.id}", "sched", j.start, j.end,
          if (j.span >= 0) s"c${j.span}" else op, op,
          j.end - j.start - union(j.start, j.end, ss.map(s => (s.submit, s.complete))))
        ss.foreach { s =>
          val exec = if (s.tasks > 0) Seq((s.firstLaunch, s.lastFinish)) else Nil
          emit(s"s${s.id}.${s.attempt}", s.name.linesIterator.nextOption().getOrElse(""),
            "sched", s.submit, s.complete, s"j${j.id}", op,
            s.complete - s.submit - union(s.submit, s.complete, exec))
          exec.foreach { case (a, b) =>
            emit(s"x${s.id}.${s.attempt}", s"${s.tasks} tasks", "exec", a, b,
              s"s${s.id}.${s.attempt}", op, b - a)
          }
        }
      }
    }
    sb.append("]").toString
  }
}

object Layers {
  /** Listener times are whole milliseconds. */
  private val Slack = 2000000L

  final case class Iv(start: Long, end: Long, depth: Int, layer: String)

  /** Per op: charged time by layer, union of job walls, files/rows scanned. */
  final case class OpView(o: Outcome, root: Span, jobs: Seq[JobRec],
                          stages: Seq[StageRec], layerNs: Map[String, Long],
                          jobUnionNs: Long, scan: ScanRec)

  def ratio(a: Double, b: Double): Double = if (b > 0) a / b else 0.0

  /** Length of the union of `ivs` clipped to [lo, hi]. */
  def union(lo: Long, hi: Long, ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cur = lo
    ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
    covered
  }

  /** Charges each instant of [lo, hi] to the deepest active interval's
    * layer, `bench` where none is active. */
  def charge(lo: Long, hi: Long, ivs: Seq[Iv]): Map[String, Long] = {
    val cl = ivs.map(i => i.copy(start = math.max(i.start, lo), end = math.min(i.end, hi)))
      .filter(i => i.end > i.start)
    val pts = (cl.flatMap(i => Seq(i.start, i.end)) ++ Seq(lo, hi)).distinct.sorted
    val acc = mutable.Map[String, Long]().withDefaultValue(0L)
    pts.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
      val active = cl.filter(i => i.start <= a && i.end >= b)
      acc(if (active.isEmpty) "bench" else active.maxBy(_.depth).layer) += b - a
    }
    acc.toMap
  }
}
