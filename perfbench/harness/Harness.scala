package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set the session up, run one
  * workload for the requested seconds, run its output check outside
  * the timed region, and write every raw measurement as one JSON file.
  * `perfbench/run.py` turns that file into the benchmark's metrics.
  *
  * Arguments are `key=value` pairs: `workload`, `kind` (serve|ingest),
  * `seed`, `seconds`, `trace` (0|1), `cpus`, `data` (input tables),
  * `work` (run-private scratch), `result` (JSON path) and, for serve
  * workloads, `queries` (comma-separated frozen names).
  */
object Harness {
  /** Session set-ups per run: the first from JVM start, the rest as
    * in-JVM rebuilds, reported as detail. */
  val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = kv("cpus")
    val traced = kv("trace") == "1"
    val result = mutable.LinkedHashMap[String, Any]()

    // setup_s: JVM start until the session is ready and its warm-up
    // job has run, so class loading and first-session start-up count.
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark = session(cpus)
    result("setup_s") = (System.currentTimeMillis() - jvmStart) / 1e3
    val rebuilds = mutable.ArrayBuffer[Double]()
    while (rebuilds.size < SetupRepeats - 1) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = session(cpus)
      rebuilds += (System.nanoTime() - t0) / 1e9
    }
    result("session_rebuild_s") = rebuilds.toSeq
    result("env") = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "slots" -> spark.sparkContext.defaultParallelism)

    val trace = if (traced) Some(new Trace(spark)) else None
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val work = Paths.get(kv("work"))
    try kv("kind") match {
      case "serve" =>
        Serve.run(spark, kv("data"), kv("queries").split(",").toSeq, seed, seconds, trace, work, result)
      case "ingest" =>
        Ingest.run(spark, kv("data"), seed, seconds, trace, work, result)
    } finally {
      SparkSession.getActiveSession.foreach(_.stop())
      Files.writeString(Paths.get(kv("result")), Json(result))
    }
  }

  /** The bench session plus one small shuffle job, so `ready` means
    * the scheduler, the shuffle path and code generation have all run. */
  def session(cpus: String): SparkSession = {
    val s = graft.BenchSession.create(cpus)
    s.sparkContext.setLogLevel("ERROR")
    s.range(0L, 200000L, 1L, cpus.toInt).selectExpr("id % 97 AS k", "id AS v")
      .groupBy("k").sum("v").write.format("noop").mode("overwrite").save()
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Total bytes of the regular files under `p` (0 when absent). */
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def filesUnder(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) && f.toString.endsWith(suffix)).count() finally s.close()
    }

  def error(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300)
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
