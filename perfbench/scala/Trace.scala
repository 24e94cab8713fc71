package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One call into a graft module's public function: a facade op, a query
  * or a pipeline stage. Children (jobs, SQL executions, micro-batches)
  * are folded into its counters as the listeners see them. */
final class Span(val id: Long, val module: String, val name: String,
    val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var wallNs: Long = 0L
  val counts = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** [start, end] of each job the span triggered, for the driver gap. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  def add(key: String, v: Double): Unit = counts.synchronized { counts(key) += v }

  /** Span wall not covered by any of its jobs: driver-side work. */
  def gapMs: Double = {
    val iv = jobIntervals.synchronized(jobIntervals.sortBy(_._1).toList)
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    iv.foreach { case (s, e) =>
      val s1 = math.max(s, startMs); val e1 = math.min(e, endMs)
      if (e1 > s1) {
        if (s1 > hi) { if (hi > lo) covered += hi - lo; lo = s1; hi = e1 }
        else hi = math.max(hi, e1)
      }
    }
    if (hi > lo) covered += hi - lo
    math.max(0.0, wallNs / 1e6 - covered)
  }
}

/**
 * In-memory span recorder fed by the three listeners below. Jobs are
 * linked to the open span through the [[Trace.SpanProp]] local
 * property, which stream execution threads inherit; Catalyst phases are
 * linked by time (one client thread, so spans never overlap) and
 * micro-batches by the run id their query started under. Spans exist
 * only while `enabled`; events of untraced calls find no span and are
 * dropped. Nothing is written while a run measures.
 */
object Trace {
  val SpanProp = "perfbench.span"
  @volatile var enabled = false
  /** Output bytes are counted even untraced: `write_amp` needs them. */
  val bytesWritten = new java.util.concurrent.atomic.AtomicLong

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val jobSpan = new ConcurrentHashMap[Int, (Span, Long)]
  private val runSpan = new ConcurrentHashMap[String, Span]
  @volatile private var open: Option[Span] = None
  private var nextId = 0L

  def all: Seq[Span] = spans.synchronized(spans.toList)
  def reset(): Unit = spans.synchronized {
    spans.clear(); byId.clear(); stageSpan.clear(); jobSpan.clear(); runSpan.clear()
  }

  /** Time `body`; when tracing, also record it as a span of `module`. */
  def call[T](module: String, name: String, sc: org.apache.spark.SparkContext)(body: => T): (T, Long) =
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      (r, System.nanoTime() - t0)
    } else {
      val s = spans.synchronized {
        nextId += 1
        val s = new Span(nextId, module, name, System.currentTimeMillis(), System.nanoTime())
        spans += s; byId.put(s.id, s); s
      }
      sc.setLocalProperty(SpanProp, s.id.toString)
      open = Some(s)
      try {
        val r = body
        (r, System.nanoTime() - s.startNs)
      } finally {
        s.wallNs = System.nanoTime() - s.startNs
        s.endMs = System.currentTimeMillis()
        open = None
        sc.setLocalProperty(SpanProp, null)
      }
    }

  private[perfbench] def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanProp)))
      .flatMap(id => Option(byId.get(id.toLong)))

  /** Span whose interval holds wall-clock time `ms` (spans never overlap). */
  private[perfbench] def spanAt(ms: Long): Option[Span] = spans.synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && ms <= s.endMs)
  }

  /** Module of a job: the innermost `graft.<module>` frame of its call
    * site (`graft.kv.KvStore.get` → kv, `graft.Graft.table` → Graft). */
  def moduleOf(details: String): String =
    details.linesIterator.map(_.trim).find(_.startsWith("graft.")).map { f =>
      val parts = f.takeWhile(_ != '(').split('.')
      if (parts.length > 3) parts(1) else parts(1).takeWhile(_ != '$')
    }.getOrElse("spark")

  private[perfbench] def onJobStart(e: SparkListenerJobStart): Unit =
    spanOf(e.properties).foreach { s =>
      jobSpan.put(e.jobId, (s, e.time))
      e.stageIds.foreach(id => stageSpan.put(id, s))
      s.add("spark.jobs", 1)
      val module = e.stageInfos.sortBy(_.stageId).lastOption
        .map(i => moduleOf(i.details)).getOrElse("spark")
      s.add(s"$module.actions", 1)
    }

  private[perfbench] def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.remove(e.jobId)).foreach { case (s, t0) =>
      s.jobIntervals.synchronized { s.jobIntervals += ((t0, e.time)) }
    }

  private[perfbench] def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(_.add("spark.stages", 1))

  private[perfbench] def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val i = e.taskInfo
        s.add("spark.tasks", 1)
        s.add("spark.task_ms", m.executorRunTime)
        s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        s.add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        s.add("spark.gc_ms", m.jvmGCTime)
        s.add("write.bytes", m.outputMetrics.bytesWritten)
        val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
        s.add("spark.sched_delay_ms", math.max(0L, i.duration - busy - i.gettingResultTime))
      }
    }
  }

  private[perfbench] def onSql(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    phases.get("analysis").orElse(phases.values.headOption).flatMap(p => spanAt(p.startTimeMs))
      .foreach { s =>
        s.add("sql.executions", 1)
        Seq("analysis", "optimization", "planning").foreach { ph =>
          phases.get(ph).foreach(p => s.add(s"catalyst.${ph}_ms", p.durationMs))
        }
      }
  }

  private[perfbench] def onStreamStart(runId: String): Unit =
    open.foreach(s => runSpan.put(runId, s))

  private[perfbench] def onProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit =
    Option(runSpan.get(p.runId.toString)).foreach { s =>
      s.add("streaming.batches", 1)
      p.durationMs.asScala.foreach { case (k, v) => s.add(s"streaming.${k}_ms", v.toDouble) }
      p.stateOperators.foreach(o => s.add("streaming.state_commit_ms", o.commitTimeMs))
    }
}

/** Registered through `spark.extraListeners`: sees jobs of every session. */
class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Trace.onJobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.onJobEnd(e)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Trace.onStageSubmitted(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.onTaskEnd(e)
}

/** Registered through `spark.sql.queryExecutionListeners`. */
class SqlListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    Trace.onSql(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    Trace.onSql(qe)
}

/** Registered through `spark.sql.streaming.streamingQueryListeners`, a
  * static conf, so the `newSession()` children streaming gates run in
  * report here too. */
class StreamListener extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    Trace.onStreamStart(e.runId.toString)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    Trace.onProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
