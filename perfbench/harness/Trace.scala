package graft.perfbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters of the Spark work that ran inside one window of the
  * driver thread (a query's construct call, its materializing write,
  * one streaming tick). */
final class Bucket {
  var jobs = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var planMs = 0L
  var queries = 0L

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "cpu_s" -> cpuNs / 1e9, "run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "plan_s" -> planMs / 1e3, "sql_executions" -> queries)
}

/** The traced run's instrumentation: one SparkListener (jobs, task
  * metrics) and one QueryExecutionListener (QueryPlanningTracker
  * phases), both owned by the benchmark. Events arrive on Spark's
  * asynchronous listener bus, so a window is closed only after the bus
  * has drained; every event up to that point belongs to the window.
  * Both listeners can be detached, so one traced run can also time
  * passes with no listener installed and report the tracing overhead. */
final class Trace(spark: SparkSession) {
  @volatile private var current = new Bucket

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = current.jobs += 1
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val b = current
      b.tasks += 1
      if (e.reason != org.apache.spark.Success) b.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        b.cpuNs += m.executorCpuTime
        b.runMs += m.executorRunTime
        b.gcMs += m.jvmGCTime
        b.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        b.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        b.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val planning = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val b = current
      b.queries += 1
      b.planMs += Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(planning)
    attached = true
  }

  def detach(): Unit = if (attached) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(planning)
    attached = false
  }

  /** Start a new window; work before this call is not counted in it. */
  def open(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    current = new Bucket
  }

  /** Close the window once every event it produced has been delivered. */
  def close(): Bucket = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    val b = current
    current = new Bucket
    b
  }
}
