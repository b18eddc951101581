package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** What the Spark engine did inside one span. */
final case class Counters(
    jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0, runMs: Long = 0,
    shuffleWriteBytes: Long = 0, spillBytes: Long = 0, bytesRead: Long = 0,
    joinRows: Long = 0, filesRead: Long = 0, filesWritten: Long = 0,
    bytesWritten: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks,
    cpuNs + o.cpuNs, runMs + o.runMs, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, bytesRead + o.bytesRead, joinRows + o.joinRows,
    filesRead + o.filesRead, filesWritten + o.filesWritten,
    bytesWritten + o.bytesWritten)
}

/** A span at one of the benchmark's call boundaries. Times are
  * nanoseconds from the run's origin; `parent` is -1 for a root. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      start: Long, end: Long, counters: Counters) {
  def seconds: Double = (end - start) / 1e9
}

/** The traced run's recorder: spans in memory, plus a SparkListener and a
  * QueryExecutionListener whose counts are cut at each span boundary
  * (the bus is drained there, so every event received belongs to the
  * span that just closed). Everything is written out when the run ends. */
final class Tracer(sc: SparkContext, val runId: String, origin: Long)
    extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var acc = Counters()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { acc = acc.copy(jobs = acc.jobs + 1) }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) synchronized {
      acc = acc + Counters(tasks = 1, cpuNs = m.executorCpuTime,
        runMs = m.executorRunTime,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled,
        bytesRead = m.inputMetrics.bytesRead)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    def metric(ms: Map[String, org.apache.spark.sql.execution.metric.SQLMetric],
               k: String): Long = ms.get(k).map(_.value).getOrElse(0L)
    val plan = qe.executedPlan
    val joins = collectWithSubqueries(plan) {
      case j: BaseJoinExec => metric(j.metrics, "numOutputRows") }.sum
    val files = collectWithSubqueries(plan) {
      case s: FileSourceScanExec => metric(s.metrics, "numFiles") }.sum
    val written = collectWithSubqueries(plan) {
      case w: DataWritingCommandExec =>
        (metric(w.cmd.metrics, "numFiles"), metric(w.cmd.metrics, "numOutputBytes")) }
    synchronized {
      acc = acc + Counters(joinRows = joins, filesRead = files,
        filesWritten = written.map(_._1).sum, bytesWritten = written.map(_._2).sum)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  private def cut(): Counters = {
    org.apache.spark.perfbench.Bus.drain(sc)
    synchronized { val c = acc; acc = Counters(); c }
  }

  /** Run `f` under a span named `name`, child of the innermost open span.
    * A span's counters are its own plus its children's. */
  def span[T](name: String)(f: => T): T = {
    val before = cut()
    // the parent keeps what ran before this child opened
    if (open.nonEmpty) carry(open.head, before)
    val id = spans.length
    spans += Span(id, name, open.headOption.getOrElse(-1), runId,
      System.nanoTime() - origin, 0L, Counters())
    open = id :: open
    try f
    finally {
      val own = cut()
      open = open.tail
      val s = spans(id)
      val kids = spans.view.filter(_.parent == id).map(_.counters)
        .foldLeft(Counters())(_ + _)
      spans(id) = s.copy(end = System.nanoTime() - origin,
        counters = s.counters + own + kids)
    }
  }

  private def carry(id: Int, c: Counters): Unit =
    spans(id) = spans(id).copy(counters = spans(id).counters + c)

  /** A span's duration minus the part of it its children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.view.filter(_.parent == s.id).map(_.seconds).sum
}
