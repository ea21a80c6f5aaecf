package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class Span(id: Int, name: String, start: Long, end: Long,
    parent: Int, unit: Int)

/** Spans kept in memory for the whole run and written out as JSONL at the
  * end. One client thread drives every unit, so the open-span stack gives
  * each span its parent. Recording happens only while `on` is set.
  */
final class Tracer {
  @volatile var on = false
  var unit = 0
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[(Int, String, Long)]
  private var nextId = 1

  def open(name: String): Unit = if (on) {
    stack = (nextId, name, System.nanoTime()) :: stack
    nextId += 1
  }

  def close(): Unit = if (on && stack.nonEmpty) {
    val (id, name, t0) = stack.head
    stack = stack.tail
    spans += Span(id, name, t0, System.nanoTime(), stack.headOption.map(_._1).getOrElse(0), unit)
  }

  def apply[T](name: String)(body: => T): T =
    if (!on) body else { open(name); try body finally close() }

  def ofUnit(u: Int): Seq[Span] = spans.filter(_.unit == u).toSeq

  /** Seconds per span name of `u`: each span's duration minus the part
    * its children cover (children never overlap: one client thread).
    */
  def selfTime(u: Int): Map[String, Double] = {
    val ss = ofUnit(u)
    val childNs = ss.groupBy(_.parent).map { case (p, cs) => p -> cs.map(c => c.end - c.start).sum }
    ss.groupBy(_.name).map { case (n, group) =>
      n -> group.map(s => s.end - s.start - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def total(u: Int, name: String): Double =
    ofUnit(u).filter(_.name == name).map(s => s.end - s.start).sum / 1e9

  def jsonl: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end},""" +
      s""""parent":${s.parent},"unit":${s.unit}}"""
  }
}

/** Per-unit Spark counters from a SparkListener and a
  * QueryExecutionListener. Events arrive on Spark's listener threads; the
  * harness drains the bus before it takes a unit's snapshot.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStarts = mutable.ArrayBuffer.empty[Long]

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }
  private val MB = 1024.0 * 1024.0

  override def onJobStart(e: SparkListenerJobStart): Unit = c.synchronized {
    c("spark.jobs") += 1
    jobStarts += e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("spark.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = c.synchronized {
    c("spark.tasks") += 1
    if (!e.taskInfo.successful) c("spark.task_failures") += 1
    val m = e.taskMetrics
    if (m != null) {
      c("spark.executor_run_s") += m.executorRunTime / 1e3
      c("spark.executor_cpu_s") += m.executorCpuTime / 1e9
      c("spark.gc_s") += m.jvmGCTime / 1e3
      c("spark.input_mb") += m.inputMetrics.bytesRead / MB
      c("spark.output_mb") += m.outputMetrics.bytesWritten / MB
      c("spark.shuffle_read_mb") +=
        (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead) / MB
      c("spark.shuffle_write_mb") += m.shuffleWriteMetrics.bytesWritten / MB
      c("spark.spill_mb") += (m.memoryBytesSpilled + m.diskBytesSpilled) / MB
      // a write task commits one file per task on unpartitioned writes
      if (m.outputMetrics.bytesWritten > 0) c("ds.files_written") += 1
      c("ds.bytes_written") += m.outputMetrics.bytesWritten
      val other = m.executorDeserializeTime + m.executorRunTime +
        m.resultSerializationTime + e.taskInfo.gettingResultTime
      c("spark.scheduler_delay_s") += math.max(0L, e.taskInfo.duration - other) / 1e3
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    phases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    phases(qe)

  private def phases(qe: QueryExecution): Unit = c.synchronized {
    c("catalyst.executions") += 1
    val ph = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      ph.get(p).foreach(s => c(s"catalyst.${p}_s") += s.durationMs / 1e3)
    }
  }

  /** Counters since the last snapshot, plus the start times (epoch ms) of
    * the Spark jobs begun in that interval; both are then reset.
    */
  def snapshot(): (Map[String, Double], Seq[Long]) = c.synchronized {
    val out = (c.toMap, jobStarts.toSeq)
    c.clear()
    jobStarts.clear()
    out
  }
}
