package perfbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** One benchmark run: set-up (process start to session ready, inputs
  * generated, fixture built, warm-up ops done), then one closed-loop window
  * of `--seconds` with a single client thread, closed at the end of a round
  * of the workload's op sequence. With `--trace 1` the window's rounds
  * alternate untraced and traced; the per-layer metrics come from the
  * traced rounds and `trace.overhead_frac` from the latencies of the two
  * (per op kind, traced / untraced median, geometric mean, minus 1; for a
  * fixed mix that is untraced / traced ops_per_s - 1). Writes the result
  * JSON to `--result`. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        cores: Int, runDir: String, result: String, traceOut: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("cores").toInt, m("run-dir"), m("result"), m("trace-out"))
  }

  private def session(a: Args): SparkSession = {
    val spark = GraftSession.builder("perfbench", a.cores)
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.runDir}/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  final class Window(val ops: Seq[Outcome], val wallNs: Long) {
    def done: Seq[Outcome] = ops.filter(_.ok)
    def opsPerS: Double = done.size / (wallNs / 1e9)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val tr = new Tracer
    val w: Workload = a.workload match {
      case "mr_text" => new MrText(a.seed, a.cores, tr)
      case "lake_lifecycle" => new LakeLifecycle(a.seed, tr)
      case "lake_read" => new LakeRead(a.seed, tr)
    }
    var attempted, failed = 0L

    def exec(kind: String): Outcome = {
      tr.checkNs = 0L
      val span = if (tr.enabled) tr.spans.size else -1
      val t0 = System.nanoTime()
      val done =
        try tr.call("op", kind)(w.run(kind))
        catch {
          case NonFatal(e) =>
            System.err.println(s"perfbench: op $kind failed: $e")
            e.printStackTrace()
            w.recover()
            Done(ok = false)
        }
      val wall = System.nanoTime() - t0
      attempted += 1
      if (!done.ok) {
        failed += 1
        System.err.println(s"perfbench: op $kind failed its output check")
      }
      Outcome(kind, done.ok, wall - tr.checkNs, done.lines, done.rows, span)
    }

    /** Runs at least one op, then ops until the deadline has passed at a
      * round's end; every round holds every latency kind. */
    def window(seconds: Double): Window = {
      w.startWindow()
      val ops = ArrayBuffer[Outcome]()
      val t0 = System.nanoTime()
      val deadline = t0 + (seconds * 1e9).toLong
      do ops += exec(w.nextKind()) while (System.nanoTime() < deadline || !w.roundEnd)
      new Window(ops.toSeq, System.nanoTime() - t0)
    }

    // ---- set-up: session ready, inputs generated (fixture built), warm-up done
    val spark = session(a)
    val t1 = Clock.now()
    val digest = w.setup(spark, s"${a.runDir}/tables")
    val t2 = Clock.now()
    w.warmupKinds.iterator.map(exec).takeWhile(_.ok).foreach(_ => ())
    val t3 = Clock.now()
    val setupS = (t3 - startMs * 1000000L) / 1e9
    println(s"inputs workload=${a.workload} seed=${a.seed} sha256=$digest")
    println(f"setup_s=$setupS%.3f session_s=${setupS - (t3 - t1) / 1e9}%.3f " +
      f"inputs_s=${(t2 - t1) / 1e9}%.3f warmup_s=${(t3 - t2) / 1e9}%.3f")

    // ---- timed window(s)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val win = window(a.seconds)
        val kindP50 = w.latencyKinds.map(k => Stats.median(
          win.done.filter(_.kind == k).map(_.latencyNs / 1e6))).filter(_ > 0)
        w.report(win.done, win.wallNs / 1e9).foreach { case (n, v, u) =>
          println(f"metric $n%-26s $v%14.4f $u") }
        println(f"metric ${"failed_frac"}%-26s ${failed.toDouble / attempted}%14.4f ratio")
        println(s"window ops=${win.ops.size} wall_s=${win.wallNs / 1e9}")
        win.ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
          println(s"latency_ms $k " + os.map(o => f"${o.latencyNs / 1e6}%.0f").mkString(" ")) }
        Seq(("setup_s", setupS, "s"),
          ("ops_per_s", win.opsPerS, "1/s"),
          ("op_p50_ms", if (kindP50.size == w.latencyKinds.size) Stats.geomean(kindP50) else 0.0, "ms"),
          ("mem_peak_mb", vmHwmMb(), "MiB"))
      } else {
        // whole rounds, alternately untraced and traced, so both halves see
        // the same JIT and cache state; at least one round of each
        val plain, traced = ArrayBuffer[Outcome]()
        val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
        var on = false
        while (System.nanoTime() < deadline || plain.isEmpty || traced.isEmpty) {
          if (on) tr.start(spark)
          val round = window(0).ops // exactly one round
          if (on) tr.stop()
          (if (on) traced else plain) ++= round
          on = !on
        }
        val layers = new Layers(tr, traced.toSeq, a.cores)
        layers.table().foreach(l => println(s"layers $l"))
        writeFile(a.traceOut, layers.dump())
        // per kind, so a different mix of kinds in the two halves cancels:
        // for a fixed mix this is untraced / traced ops_per_s - 1
        val overhead = Stats.geomean(w.latencyKinds.flatMap { k =>
          def med(os: Seq[Outcome]) = Stats.median(os.filter(o => o.ok && o.kind == k)
            .map(_.latencyNs.toDouble))
          Some(Layers.ratio(med(traced.toSeq), med(plain.toSeq))).filter(_ > 0)
        }) - 1
        layers.metrics(w.storage(), overhead)
          .toSeq.sortBy(_._1).map { case (k, v) => (k, v, unitOf(k)) }
      }

    val ok = failed == 0 && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}""" }
    writeFile(a.result, s"""{"correct": $ok, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": {${body.mkString(", ")}}}""")
    spark.stop()
  }

  /** Unit of each per-layer metric, by its name. */
  private def unitOf(name: String): String = name match {
    case n if n.endsWith("_ms") => "ms"
    case n if n.endsWith("_s") => "s"
    case n if n.endsWith("_bytes") || n.endsWith("bytes_per_line") => "bytes"
    case n if n.endsWith("_frac") || n.endsWith("_skew") || n.endsWith("_per_scanned") ||
      n.endsWith("_per_user_byte") => "ratio"
    case _ => "count"
  }

  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  private def writeFile(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    val p = new PrintWriter(path, "UTF-8")
    try p.write(s) finally p.close()
  }
}
