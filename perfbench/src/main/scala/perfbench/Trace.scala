package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One layer-boundary interval. `parent` is 0 for a root span; all spans of
  * one run share `runId`. Times are nanoseconds, `startMs` is wall-clock
  * milliseconds (for attributing asynchronous listener events). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, startMs: Long, var end: Long = 0L, var endMs: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. The innermost open span's id rides on every
  * Spark job submitted from this thread as a local property, so listener
  * events can be attributed to the span that caused them. Disabled tracers
  * run the body and record nothing. */
final class Tracer(var enabled: Boolean, runId: String) {
  private val recorded = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = sc = context
  def spans: Seq[Span] = recorded.toSeq

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(recorded.size + 1, name, stack.headOption.fold(0)(_.id), runId,
        System.nanoTime(), System.currentTimeMillis())
      recorded += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime(); s.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** The span `rootId` and all its descendants. */
  def subtree(rootId: Int): Seq[Span] = {
    val kids = recorded.groupBy(_.parent)
    def walk(id: Int): Seq[Span] =
      kids.getOrElse(id, Nil).toSeq.flatMap(k => k +: walk(k.id))
    recorded.filter(_.id == rootId).toSeq ++ walk(rootId)
  }

  /** Duration minus the part of it that direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - recorded.filter(_.parent == s.id).map(_.seconds).sum

  /** One JSON line per span, with the engine counts charged to it. */
  def toJsonLines(c: EngineCounters): Seq[String] = recorded.toSeq.map { s =>
    val k = Option(c.bySpan.get(s.id)).getOrElse(new Counts)
    s"""{"run":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
      s""""start_ns":${s.start},"end_ns":${s.end},"self_s":${selfSeconds(s)},""" +
      s""""jobs":${k.jobs},"stages":${k.stages},"tasks":${k.tasks},"task_run_ms":${k.runMs},""" +
      s""""task_cpu_ns":${k.cpuNs},"gc_ms":${k.gcMs},"shuffle_read_bytes":${k.shuffleReadBytes},""" +
      s""""shuffle_write_bytes":${k.shuffleWriteBytes},"spill_bytes":${k.spillBytes}}"""
  }
}

object Tracer { val SpanProperty = "perfbench.span" }

/** Engine counters for one span (or the whole run). */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, shuffleWriteRecords, spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    shuffleWriteRecords += o.shuffleWriteRecords; spillBytes += o.spillBytes
  }
  def sameAs(o: Counts): Boolean =
    jobs == o.jobs && stages == o.stages && tasks == o.tasks && runMs == o.runMs &&
      cpuNs == o.cpuNs && gcMs == o.gcMs && shuffleReadBytes == o.shuffleReadBytes &&
      shuffleWriteBytes == o.shuffleWriteBytes && spillBytes == o.spillBytes &&
      shuffleWriteRecords == o.shuffleWriteRecords
}

/** Attributes jobs, stages and tasks to the span that submitted the job.
  * A task is charged through its stage's job (stage → first job that
  * listed it), never to "the latest open job", which is wrong as soon as
  * jobs overlap. `total` is kept independently so the attribution can be
  * checked: the per-span counts must add up to it. */
final class EngineCounters extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  val bySpan = new ConcurrentHashMap[Int, Counts]()
  val total = new Counts
  /** Call sites of jobs submitted without a span. */
  val unattributed = mutable.ArrayBuffer.empty[String]

  private def at(span: Int): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    at(span).jobs += 1; total.jobs += 1
    if (span == 0) unattributed += Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.lastOption.map(_.name)).getOrElse(s"job ${e.jobId}")
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    at(stageSpan.getOrDefault(e.stageInfo.stageId, 0)).stages += 1
    total.stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    def charge(c: Counts): Unit = {
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.spillBytes += m.diskBytesSpilled
      }
    }
    charge(at(stageSpan.getOrDefault(e.stageId, 0)))
    charge(total)
  }
}

/** Catalyst phase times (analysis, optimization, planning) of every
  * executed query, keyed by the wall-clock millisecond its first phase
  * started; attributed to spans after the run. */
final class PlanPhases extends QueryExecutionListener {
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()
  private def record(qe: QueryExecution): Unit = {
    val ps = qe.tracker.phases.values
    if (ps.nonEmpty) phases.add((ps.map(_.startTimeMs).min, ps.map(_.durationMs).sum / 1e3))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}

/** Peak live heap: heap in use right after a full collection, taken at
  * the end of each unit while its output is still referenced. */
final class LiveHeap {
  var peakBytes = 0L

  def collectNow(): Unit = {
    // the second collection frees what reference processing and the
    // context cleaner released after the first
    System.gc(); Thread.sleep(100); System.gc()
    val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    if (used > peakBytes) peakBytes = used
  }
}
