package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, in `System.nanoTime` units. `parent` is -1 for
  * the root.
  */
final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long,
    attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

object Spans {

  /** Length of the union of `intervals`, clipped to [lo, hi]. */
  def covered(intervals: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0L
    var runStart = 0L
    var runEnd = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > runEnd) {
        if (runEnd != Long.MinValue) total += runEnd - runStart
        runStart = a; runEnd = b
      } else runEnd = math.max(runEnd, b)
    }
    if (runEnd != Long.MinValue) total += runEnd - runStart
    total
  }

  /** A span's duration minus the part of it its children cover;
    * overlapping children count once.
    */
  def selfTime(span: Span, children: Iterable[Span]): Long =
    span.dur - covered(children.map(c => (c.start, c.end)), span.start, span.end)
}

/** Spans of one run, kept in memory and written out when it ends. */
final class Tracer {
  private val spans = mutable.ArrayBuffer[Span]()

  def add(parent: Int, name: String, start: Long, end: Long,
      attrs: Map[String, Double] = Map.empty): Int = {
    val id = spans.size
    spans += Span(id, parent, name, start, end, attrs)
    id
  }

  /** Start a span whose end is set later by [[close]]. */
  def open(parent: Int, name: String, start: Long): Int = add(parent, name, start, start)

  def close(id: Int, end: Long): Unit = spans(id) = spans(id).copy(end = end)

  /** One JSON object per span: times in seconds from the root's start. */
  def write(path: java.nio.file.Path): Unit = {
    val byParent = spans.groupBy(_.parent)
    val t0 = if (spans.isEmpty) 0L else spans.map(_.start).min
    val lines = spans.map { s =>
      val self = Spans.selfTime(s, byParent.getOrElse(s.id, Nil))
      val attrs = s.attrs.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""start_s":${Json.num((s.start - t0) / 1e9)},"dur_s":${Json.num(s.dur / 1e9)},""" +
        s""""self_s":${Json.num(self / 1e9)},"attrs":{$attrs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Listener events, timestamps converted to the `System.nanoTime` clock. */
object Events {
  final case class Job(id: Int, start: Long, end: Long, stages: Int)
  final case class Task(launch: Long, finish: Long, runS: Double, cpuS: Double,
      gcS: Double, shuffleWriteB: Long, shuffleReadB: Long, spillB: Long,
      fetchWaitS: Double, inputB: Long)
  final case class Stage(at: Long)
  final case class Qe(phases: Map[String, (Long, Long)], exchanges: Int,
      broadcasts: Int, unpartitionedWindows: Int)
  final case class Batch(at: Long, durS: Double)
}

/** Records scheduler, task, query-execution and streaming events while
  * `enabled`. Registered on the context ([[sparkListener]]) and on every
  * session ([[qeListener]], [[streamingListener]]); [[drain]] hands over
  * everything recorded since the previous drain.
  */
final class Recorder {
  import Events._

  @volatile var enabled: Boolean = false
  private val events = new ConcurrentLinkedQueue[AnyRef]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Int)]()
  // epoch ms -> nanoTime, fixed once (sub-ms skew is below listener resolution)
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def ns(epochMs: Long): Long = epochMs * 1000000L + offsetNs

  def drain(): Seq[AnyRef] = {
    val out = mutable.ArrayBuffer[AnyRef]()
    var e = events.poll()
    while (e != null) { out += e; e = events.poll() }
    out.toSeq
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled) jobStarts.put(e.jobId, (ns(e.time), e.stageInfos.size))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, stages) =>
        events.add(Job(e.jobId, start, ns(e.time), stages))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) events.add(Stage(ns(e.stageInfo.completionTime.getOrElse(0L))))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled && e.taskInfo != null) {
        val m = e.taskMetrics
        val i = e.taskInfo
        events.add(
          if (m == null) Task(ns(i.launchTime), ns(i.finishTime), 0, 0, 0, 0, 0, 0, 0, 0)
          else Task(ns(i.launchTime), ns(i.finishTime), m.executorRunTime / 1e3,
            m.executorCpuTime / 1e9, m.jvmGCTime / 1e3,
            m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
            m.memoryBytesSpilled + m.diskBytesSpilled,
            m.shuffleReadMetrics.fetchWaitTime / 1e3, m.inputMetrics.bytesRead))
      }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = if (enabled) {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (ns(p.startTimeMs), ns(p.endTimeMs)) }
    val (ex, bc, win) =
      try Recorder.planShape(qe.executedPlan) catch { case _: Throwable => (0, 0, 0) }
    events.add(Qe(phases, ex, bc, win))
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (enabled) events.add(Batch(System.nanoTime(), e.progress.batchDuration / 1e3))
  }
}

object Recorder {

  /** Exchanges, broadcast exchanges and windows with no PARTITION BY in
    * the final (post-AQE) plan, subqueries included. A reused exchange
    * moves no data again and is not counted.
    */
  def planShape(plan: SparkPlan): (Int, Int, Int) = {
    var ex = 0; var bc = 0; var win = 0
    def visit(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => visit(a.executedPlan)
        case q: QueryStageExec => visit(q.plan)
        case _ =>
          p match {
            case _: ShuffleExchangeLike => ex += 1
            case _: BroadcastExchangeLike => bc += 1
            case w: WindowExec if w.partitionSpec.isEmpty => win += 1
            case _ =>
          }
          p.children.foreach(visit)
      }
      p.subqueries.foreach(visit)
    }
    visit(plan)
    (ex, bc, win)
  }
}

/** Minimal JSON rendering for the benchmark's outputs. */
object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** A finite number with all its digits; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
}
