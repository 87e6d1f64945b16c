package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.operators.Staged

/** The serve workload: closed-loop passes over a frozen query list,
  * one client thread, each query built through `SparkEntry.queries`
  * and materialized with the `noop` sink, `clearCache()` after each.
  *
  * The first pass in the JVM is the cold pass (it pays every
  * first-touch `Staged` build); warm passes follow, at least two (four
  * when traced), until `seconds` have elapsed. The cold pass runs the
  * frozen order; each warm pass runs a seeded rotation of it. Rotation
  * keeps which query follows which: with full shuffles a query's warm
  * latency moved by up to 2x with its predecessor, so the warm figures
  * depended on the seed more than on the program.
  *
  * In a traced run the cold pass and warm passes 2, 3, 6, 7, ... run
  * with the listeners attached and warm passes 1, 4, 5, 8, ... without
  * them (an ABBA order, so warm-up drift cancels), so the same run
  * yields the layer split and the tracing overhead.
  */
object Serve {
  def run(
      spark: SparkSession,
      data: String,
      names: Seq[String],
      seed: Long,
      seconds: Double,
      trace: Option[Trace],
      work: Path,
      result: mutable.Map[String, Any]): Unit = {
    val fns = graft.SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val minWarm = if (trace.isDefined) 4 else 2
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val rng = new scala.util.Random(seed)
    val t0 = System.nanoTime()
    var i = 0
    while (i == 0 || i <= minWarm || Harness.seconds(t0) < seconds) {
      val traced = trace.isDefined && (i == 0 || i % 4 >= 2)
      trace.foreach(t => if (traced) t.attach() else t.detach())
      val shift = if (i == 0) 0 else rng.nextInt(names.size)
      val order = names.drop(shift) ++ names.take(shift)
      val stageBytes0 = stageBytes
      val tp = System.nanoTime()
      val queries = order.map(n => query(spark, n, fns(n)(_, data), trace.filter(_ => traced)))
      passes += Map(
        "pass" -> i, "traced" -> traced, "wall_s" -> Harness.seconds(tp),
        "stage_bytes_written" -> (stageBytes - stageBytes0), "queries" -> queries)
      i += 1
    }
    result("measured_s") = Harness.seconds(t0)
    result("passes") = passes.toSeq
    trace.foreach(_.detach())

    // Output check, outside the timed region: the program's own
    // correctness dump of exactly the frozen names (it stops the session).
    val dump = work.resolve("verify")
    val tc = System.nanoTime()
    graft.Verify.main((Seq(data, dump.toString) ++ names).toArray)
    result("check_s") = Harness.seconds(tc)
    result("verify_dir") = dump.toString
  }

  private def query(
      spark: SparkSession,
      name: String,
      build: SparkSession => org.apache.spark.sql.DataFrame,
      trace: Option[Trace]): Map[String, Any] = {
    val before = Staged.buildTimings
    trace.foreach(_.open())
    val t0 = System.nanoTime()
    val rec = mutable.LinkedHashMap[String, Any]("name" -> name)
    try {
      val df = build(spark)
      rec("construct_s") = Harness.seconds(t0)
      trace.foreach(t => rec("construct") = t.close().fields.toMap)
      trace.foreach(_.open())
      val t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      rec("materialize_s") = Harness.seconds(t1)
      trace.foreach(t => rec("execute") = t.close().fields.toMap)
      rec("ok") = true
    } catch {
      case e: Throwable =>
        trace.foreach(_.close())
        rec("ok") = false
        rec("error") = Harness.error(e)
    }
    rec("latency_s") = Harness.seconds(t0)
    val built = Staged.buildTimings -- before.keySet
    rec("stage_builds") = built.size
    rec("stage_build_s") = built.values.sum
    spark.catalog.clearCache()
    rec.toMap
  }

  /** Bytes currently staged by `operators.Staged` in this JVM's temp dir. */
  private def stageBytes: Long = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(tmp)
    try s.iterator().asScala.filter(_.getFileName.toString.startsWith("graft-stage"))
      .map(Harness.bytesUnder).sum
    finally s.close()
  }
}
