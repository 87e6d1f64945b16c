package graft

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentLinkedQueue, TimeoutException}

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.operators.Staged

/** The one recorder of what a piece of driver code cost: Bench's
  * per-query numbers, the probes' STAGE and CODEGEN lines and the
  * job-count and compile-count specs all read [[measure]].
  *
  * Job-start events reach listeners asynchronously, so the listener
  * bus is drained before `f` starts (no earlier job leaks in) and after
  * it returns (every job `f` started is counted). Every job that starts
  * while `f` runs is recorded, from any thread.
  */
object Telemetry {
  /** One Spark job: its call site (the name of its last stage), its
    * stage count and the `Staged` build that submitted it, if any. */
  final case class Job(site: String, stages: Int, stage: Option[String])

  /** What `f` cost: the jobs it started in start order, the generated
    * classes compiled while it ran and their summed compile seconds
    * (all threads), stop-the-world GC milliseconds, and wall seconds. */
  final case class Record(jobs: Seq[Job], compiles: Long, compileSec: Double,
    gcMillis: Long, wallSec: Double)

  /** Run `f` and return its result with what it cost. */
  def measure[T](spark: SparkSession)(f: => T): (T, Record) = {
    val jobs = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Job(e.stageInfos.lastOption.fold("?")(_.name), e.stageInfos.size,
          Option(e.properties).flatMap(p => Option(p.getProperty(Staged.StageProperty))))): Unit
    }
    val sc = spark.sparkContext
    drain(sc)
    sc.addSparkListener(listener)
    try {
      val gc0 = gcMillis()
      val (compiles0, compileNs0) = codegen()
      val t0 = System.nanoTime()
      val result = f
      val wallSec = (System.nanoTime() - t0) / 1e9
      val (compiles1, compileNs1) = codegen()
      drain(sc)
      (result, Record(jobs.asScala.toSeq, compiles1 - compiles0,
        (compileNs1 - compileNs0) / 1e9, gcMillis() - gc0, wallSec))
    } finally sc.removeSparkListener(listener)
  }

  // Spark gives up on a drain after 10 s; a bus that busy leaves the
  // record short of the last jobs rather than failing the measured run.
  private def drain(sc: SparkContext): Unit =
    try ListenerBusDrain(sc) catch { case _: TimeoutException => () }

  private def codegen(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
}
