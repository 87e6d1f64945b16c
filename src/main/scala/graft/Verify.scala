package graft
import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.compact
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // Optional extra args: run only these queries (local iteration;
    // the driver's 2-arg invocation dumps everything). A typo'd name
    // must fail loudly, not write nothing and exit 0.
    val only = args.drop(2).toSet
    val unknown = only.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Queries persist() intra-query tables (q33/q75/q84); without a
      // sweep each run pins its cache for the rest of the dump and the
      // tail queries inherit the memory pressure (same rationale as
      // Bench's per-query clear).
      spark.catalog.clearCache()
    }
    val json = compact(JObject(
      SparkEntry.oracleSql.toList.map { case (k, v) => k -> JString(v) }))
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
