package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Epoch nanoseconds on a monotonic base, comparable with the listener's
  * epoch-millisecond event times. */
object Clock {
  private val baseNano = System.nanoTime()
  private val baseEpochNs = System.currentTimeMillis() * 1000000L
  def now(): Long = baseEpochNs + (System.nanoTime() - baseNano)
}

/** A span recorded by the client around one call into a layer. `op` is the
  * id of the root span of the operation it belongs to. */
final class Span(val id: Int, val layer: String, var name: String,
                 val parent: Int, val op: Int, val start: Long) {
  var end: Long = start
}

final class JobRec(val id: Int, val start: Long, val span: Int,
                   val execId: Long, val stageIds: Seq[Int]) {
  var end: Long = start
}

final class StageRec(val id: Int, val attempt: Int) {
  var name = ""
  var submit, complete = 0L
  var firstLaunch = Long.MaxValue
  var lastFinish = 0L
  var tasks = 0
  var runMs, gcMs, deserMs = 0L
  var cpuNs, inBytes, inRecords, shuffleWrite, shuffleRead, spill = 0L
  val taskRunMs = ArrayBuffer[Long]()
  val launchMs = ArrayBuffer[Long]()
}

/** Files and rows read by the file scans of one executed SQL plan. */
final case class ScanRec(files: Long, rows: Long)

/** Client spans plus Spark's own job/stage/task and SQL-plan events, kept in
  * memory while tracing is on. Tracing is off unless [[start]] was called:
  * then [[call]] is a plain call and no listener is registered. The file
  * scans of each executed plan are read from its SQL execution end event.
  *
  * Every call span sets a local property on the SparkContext, so each job
  * the call launches carries the id of its enclosing span. */
final class Tracer {
  import Tracer._

  private var sc: org.apache.spark.SparkContext = _
  private var on = false
  private var stack = List.empty[Span]
  val spans = ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[(Int, Int), StageRec]()
  val scans = new ConcurrentHashMap[Long, ScanRec]()
  /** Client time spent in output checks during the current op. */
  var checkNs = 0L

  def enabled: Boolean = on

  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    on = true
  }

  def stop(): Unit = {
    on = false
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    sc.setLocalProperty(SpanKey, null)
  }

  /** Runs `body` inside a span of `layer`. */
  def call[T](layer: String, name: String)(body: => T): T = span(layer, name, null, body)

  /** [[call]] whose span is named after its result (e.g. the branch a
    * refresh took). */
  def callNamed[T](layer: String)(body: => T)(name: T => String): T =
    span(layer, layer, name, body)

  private def span[T](layer: String, name: String, rename: T => String, body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val id = spans.size
      val s = new Span(id, layer, name, parent.fold(-1)(_.id),
        parent.fold(id)(_.op), Clock.now())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, id.toString)
      try {
        val r = body
        if (rename != null) s.name = rename(r)
        r
      } finally {
        s.end = Clock.now()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** An output check: timed always (op latency excludes it), traced as the
    * `check` layer. */
  def check[T](body: => T): T = {
    val t0 = System.nanoTime()
    try call("check", "check")(body)
    finally checkNs += System.nanoTime() - t0
  }

  private object listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, new JobRec(e.jobId, e.time * Ms,
        prop(SpanKey).fold(-1)(_.toInt),
        prop("spark.sql.execution.id").fold(-1L)(_.toLong), e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * Ms)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val r = stage(i.stageId, i.attemptNumber())
      r.name = i.name
      r.submit = i.submissionTime.getOrElse(0L) * Ms
      r.complete = i.completionTime.getOrElse(0L) * Ms
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val r = stage(e.stageId, e.stageAttemptId)
      val ti = e.taskInfo
      r.tasks += 1
      r.firstLaunch = math.min(r.firstLaunch, ti.launchTime * Ms)
      r.lastFinish = math.max(r.lastFinish, ti.finishTime * Ms)
      r.launchMs += ti.launchTime
      Option(e.taskMetrics).foreach { m =>
        r.runMs += m.executorRunTime
        r.taskRunMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.deserMs += m.executorDeserializeTime
        r.inBytes += m.inputMetrics.bytesRead
        r.inRecords += m.inputMetrics.recordsRead
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.diskBytesSpilled + m.memoryBytesSpilled
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchSql.queryExecution(end).foreach { qe =>
          val fs = fileScans(qe.executedPlan)
          scans.put(end.executionId, ScanRec(
            fs.map(s => s.metrics.get("numFiles").fold(0L)(_.value)).sum,
            fs.map(s => s.metrics.get("numOutputRows").fold(0L)(_.value)).sum))
        }
      case _ =>
    }
    private def stage(id: Int, attempt: Int) =
      stages.computeIfAbsent((id, attempt), _ => new StageRec(id, attempt))
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  private val Ms = 1000000L

  private def fileScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    case q: QueryStageExec => fileScans(q.plan)
    case f: FileSourceScanExec => Seq(f)
    case other => (other.children ++ other.subqueries).flatMap(fileScans)
  }
}
