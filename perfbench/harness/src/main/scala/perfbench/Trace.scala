package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of one span: what Spark did while the harness was inside one
  * public call of the program. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes, outputBytes = 0L
  var jobWallMs = 0L
  /** (analysis, optimization, physical planning) ms of each SQL execution. */
  val plans = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "task_run_ms" -> taskRunMs, "task_cpu_ns" -> taskCpuNs, "gc_ms" -> gcMs,
    "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "spill_bytes" -> spillBytes, "output_bytes" -> outputBytes,
    "job_wall_ms" -> jobWallMs,
    "plans_ms" -> plans.map { case (a, o, p) => Seq(a, o, p) }.toSeq)
}

/** Where listener events land. The harness sets `current` when a traced
  * span starts and drains the listener bus before it ends, so every event
  * of a span is counted into that span's counters; with `current` null
  * (untraced passes) events are dropped. */
object Recorder {
  @volatile var current: Counters = null
  private val jobCounters = mutable.Map.empty[Int, (Counters, Long)]

  def onJobStart(jobId: Int, time: Long): Unit = synchronized {
    val c = current
    if (c != null) { c.jobs += 1; jobCounters(jobId) = (c, time) }
  }
  def onJobEnd(jobId: Int, time: Long): Unit = synchronized {
    jobCounters.remove(jobId).foreach { case (c, t0) => c.jobWallMs += time - t0 }
  }
  def withCurrent(f: Counters => Unit): Unit = synchronized {
    val c = current
    if (c != null) f(c)
  }
}

/** Job, stage and task counters, registered through `addSparkListener`. */
final class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = Recorder.onJobStart(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Recorder.onJobEnd(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Recorder.withCurrent(_.stages += 1)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) Recorder.withCurrent { c =>
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst planning time per SQL execution. Registered through the
  * `spark.sql.queryExecutionListeners` setting, so that the child sessions
  * replay opens per client get one too. */
final class PlanListener extends QueryExecutionListener {
  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    Recorder.withCurrent(_.plans += ((ms("analysis"), ms("optimization"), ms("planning"))))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
