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

  /** Every Spark job `f` starts, in start order. */
  def jobsDuring(f: => Any): Seq[Telemetry.Job] = Telemetry.measure(spark)(f)._2.jobs
}
