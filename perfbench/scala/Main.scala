package perfbench

import scala.collection.mutable

import org.apache.spark.{Access, SparkContext}

/** Minimal JSON rendering for the result line (numbers, strings, lists, maps). */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}

/** What a workload hands back: raw samples for the end-to-end metrics,
  * plus how many operations it attempted and how many failed or gave a
  * wrong result. Percentiles and medians are taken by the caller. */
final class Outcome {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val values = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val errors = mutable.ArrayBuffer.empty[String]

  def sample(key: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v
  }

  /** Count one operation; a `None` verdict is a pass, `Some(why)` a failure. */
  def check(what: String, verdict: Option[String]): Unit = synchronized {
    attempted += 1
    verdict.foreach { why => failed += 1; if (errors.size < 20) errors += s"$what: $why" }
  }
}

/**
 * JVM entry of the benchmark: `perfbench.Main <workload> <dataDir>
 * <workDir> <seed> <seconds> <trace>`. Builds the one local session (all
 * cores, listener kit registered through static confs), runs the named
 * workload closed-loop from one client thread and prints one result
 * line prefixed `PERFBENCH ` with raw samples, checks and, when traced,
 * the per-layer aggregates.
 */
object Main {
  /** Peak resident set of this process (driver and local executors). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, workDir, seedS, secondsS, traceS) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    // the program's own session builder; the listener kit, spark.local.dir
    // and the warehouse dir reach it as spark.* JVM system properties (set
    // by run.py), which SparkConf loads. The listener confs are static, so
    // they also reach every newSession() child.
    val spark = graft.Graft.localSession("perfbench", cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl: Workload = workload match {
      case "app_ops" => new AppOps(spark, dataDir, workDir, seed)
      case "analytics_mix" => new AnalyticsMix(spark, dataDir, workDir, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new Outcome
    val setup = wl.setup(out)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      // quarters untraced, traced, traced, untraced (ABBA, so warming
      // drift cancels): the traced vs untraced wall per unit of work is
      // the tracing overhead; only traced quarters record spans
      Trace.reset()
      var codegen = Codegen(0, 0.0)
      val walls = Seq(false, true, true, false).map { on =>
        val c0 = Codegen.snapshot()
        Trace.enabled = on
        val w = wl.measure(seconds / 4, out)
        Trace.enabled = false
        if (on) { val d = Codegen.snapshot().minus(c0); codegen = Codegen(codegen.count + d.count, d.meanMs) }
        on -> w
      }
      Access.drainListeners(spark.sparkContext)
      layers ++= Layers.aggregate(Trace.all, codegen)
      layers ++= wl.layers(Trace.all)
      val (on, off) = walls.partition(_._1)
      layers("trace.overhead_frac") = on.map(_._2).sum / off.map(_._2).sum - 1.0
    } else wl.measure(seconds, out)
    Access.drainListeners(spark.sparkContext)
    wl.finish(out)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "setup_phases" -> (setup + ("session_s" -> sessionS)),
      "samples" -> out.samples,
      "values" -> (out.values ++ Map("peak_rss_mb" -> peakRssMb())),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "errors" -> out.errors,
      "layers" -> layers)
    println("PERFBENCH " + Json(result))
    spark.stop()
  }
}

/** Bytes Spark wrote while measuring, against the bytes of input the
  * measured work submitted: `write_amp`. Output bytes arrive with task-end
  * events on the asynchronous listener bus, so the bus is drained before
  * each count is read: the figure is exact, not a matter of event timing. */
final class WriteAmp(sc: SparkContext) {
  private var written = 0L
  private var input = 0.0
  private def bytes(): Long = { Access.drainListeners(sc); Trace.bytesWritten.get() }
  def during[T](inputBytes: => Double)(body: => T): T = {
    val b0 = bytes()
    val r = body
    written += bytes() - b0
    input += inputBytes
    r
  }
  def ratio: Double = written / math.max(1.0, input)
}

object WriteAmp {
  /** Bytes of the parquet inputs under `dir`. */
  def inputBytes(dir: String): Double =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten.map { f =>
      if (f.isDirectory) inputBytes(f.getPath) else if (f.getName.endsWith(".parquet")) f.length.toDouble else 0.0
    }.sum
}

/** Setup helper: runs independent warm-up tasks `width`-wide (the way the
  * project's correctness dump runs its gates), with `serial` tasks in
  * order on one extra thread. Only setup uses it; measuring stays on one
  * client thread. */
object Parallel {
  def run(serial: Seq[() => Unit], pooled: Seq[() => Unit], width: Int): Unit = {
    val chain = new Thread(() => serial.foreach(_()), "perfbench-serial")
    chain.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
    try pooled.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
    chain.join()
  }
}

/** Runs measure a whole number of units (decks, passes), not a time: a
  * run that stops on the clock would do less work when the machine is
  * slow, and counters such as output bytes would follow its speed. The
  * count is the measuring time over a unit's nominal wall, at least one. */
object Units {
  def count(seconds: Double, unitSeconds: Double): Int =
    math.max(1, math.round(seconds / unitSeconds).toInt)
}

/** A benchmark workload: set up once, then measure closed-loop. */
trait Workload {
  /** Build inputs, warm the JVM and the engine; returns named phase walls (s). */
  def setup(out: Outcome): Map[String, Double]
  /** Run `seconds` worth of whole units (see [[Units]]), recording samples
    * and checks in `out`; returns wall seconds per unit of work (used for
    * the tracing overhead). */
  def measure(seconds: Double, out: Outcome): Double
  /** Workload-specific per-layer metrics from the traced spans. */
  def layers(spans: Seq[Span]): Map[String, Double] = Map.empty
  /** Final end-to-end values once measuring is over. */
  def finish(out: Outcome): Unit = ()
}

/** Spark's janino compile counters (process-wide). */
final case class Codegen(count: Long, meanMs: Double) {
  def minus(o: Codegen): Codegen = Codegen(count - o.count, meanMs)
  def totalMs: Double = count * meanMs
}
object Codegen {
  def snapshot(): Codegen = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Codegen(h.getCount, h.getSnapshot.getMean)
  }
}

/** Per-layer aggregates shared by every workload. Counters are per span
  * (one call, query or stage) so they compare across run lengths. */
object Layers {
  val Modules = Seq("Graft", "query", "kv", "write", "vector", "pipeline",
    "operators", "sources", "functions", "plans", "streaming")
  val PerSpan = Seq("spark.jobs", "spark.stages", "spark.tasks", "spark.task_ms",
    "spark.shuffle_write_bytes", "spark.spill_bytes", "spark.gc_ms",
    "spark.sched_delay_ms", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "streaming.batches", "streaming.addBatch_ms",
    "streaming.queryPlanning_ms", "streaming.walCommit_ms", "streaming.commitOffsets_ms",
    "streaming.latestOffset_ms", "streaming.state_commit_ms") ++ Modules.map(_ + ".actions")

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def aggregate(spans: Seq[Span], codegen: Codegen): Map[String, Double] = {
    val n = math.max(1, spans.size).toDouble
    val sums = PerSpan.map(k => k -> spans.map(_.counts(k)).sum / n).toMap
    sums ++ Map(
      "sources.schema_jobs" -> sums("sources.actions"),
      "driver.gap_ms" -> mean(spans.map(_.gapMs)),
      "codegen.compiles" -> codegen.count / n,
      "codegen.compile_ms" -> codegen.totalMs / n)
  }

  /** Median wall (ms) of spans named `name`. */
  def wallMs(spans: Seq[Span], name: String): Double =
    median(spans.filter(_.name == name).map(_.wallNs / 1e6))

  /** Mean of counter `key` over spans whose module is `module`. */
  def perCall(spans: Seq[Span], module: String, key: String): Double =
    mean(spans.filter(_.module == module).map(_.counts(key)))
}
