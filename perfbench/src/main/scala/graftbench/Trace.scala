package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond digits: one
  * origin for spans, listener events and Spark's own progress
  * timestamps. */
object Clock {
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  def ms(): Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** Spans kept in memory and written out once at the end of the run:
  * name, start, end and the span that caused it. Disabled in the
  * untraced run, where `apply` only runs the body. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(1L)
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()

  def apply[T](name: String, parent: Long = 0L)(body: Long => T): T =
    if (!enabled) body(0L)
    else {
      val id = ids.getAndIncrement()
      val start = Clock.ms()
      try body(id)
      finally done.add(Map("id" -> id, "name" -> name, "parent" -> parent,
        "start_ms" -> start, "end_ms" -> Clock.ms()))
    }

  def all: Seq[Map[String, Any]] = done.asScala.toSeq
}

/** Scheduler ledger: jobs, stages and task metrics summed per key. A job's
  * key is its micro-batch (`streaming.sql.batchId`), else its job group,
  * else "other"; its stages and tasks inherit it. The listener bus
  * delivers on one thread, so the maps need no locking until the run
  * reads them after [[org.apache.spark.graftbench.BusDrain]]. */
final class TaskLedger extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, runMs, cpuNs, maxTaskMs = 0L
    var shuffleWrite, shuffleRead, spill, peakMem, recordsWritten = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_run_ms" -> runMs, "task_cpu_ns" -> cpuNs, "max_task_ms" -> maxTaskMs,
      "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
      "spill_bytes" -> spill, "peak_exec_mem_bytes" -> peakMem,
      "records_written" -> recordsWritten)
  }
  private val byKey = mutable.LinkedHashMap.empty[String, Acc]
  private val stageKey = mutable.HashMap.empty[Int, String]

  private def acc(k: String): Acc = byKey.getOrElseUpdate(k, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val key = prop("streaming.sql.batchId").map("batch:" + _)
      .orElse(prop("spark.jobGroup.id").map("group:" + _))
      .getOrElse("other")
    e.stageIds.foreach(s => stageKey(s) = key)
    acc(key).jobs += 1
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageKey.getOrElse(e.stageInfo.stageId, "other")).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(stageKey.getOrElse(e.stageId, "other"))
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  def snapshot: Map[String, Map[String, Any]] =
    byKey.iterator.map { case (k, a) => k -> a.toMap }.toMap
}

/** Catalyst phases of every query execution, with absolute phase times so
  * the report can attribute each execution to the query whose span holds
  * it (the listener is called asynchronously, off the caller's thread). */
final class PlanLedger extends QueryExecutionListener {
  private val done = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) done.add(Map(
      "start_ms" -> phases.values.map(_.startTimeMs).min,
      "plan_ms" -> phases.values.map(_.durationMs).sum))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def all: Seq[Map[String, Any]] = done.asScala.toSeq
}

/** Every micro-batch's progress report as Spark renders it: the commit
  * time of a batch is its trigger start plus `triggerExecution`. */
final class ProgressLog extends StreamingQueryListener {
  private val done = new ConcurrentLinkedQueue[String]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    done.add(e.progress.json)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def all: Seq[String] = done.asScala.toSeq
}
