package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite (guide: one lazy SparkSession, not one per
  * test): the bench session at 4 slots / 4 shuffle partitions. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = BenchSession.create("4")
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The call site of every Spark job `f` starts, in start order. */
  def jobsDuring(f: => Any): Seq[String] = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(e.stageInfos.lastOption.fold("?")(_.name)): Unit
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.ListenerBusDrain(sc) }
    finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }
}
