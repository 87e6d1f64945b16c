package graft
import java.nio.file.{Files, Paths}

/** Dev tool: dump `.explain("formatted")` for the named queries to
  * individual files — the before/after plan evidence an optimization
  * round commits under plans/r<N>/. Usage:
  *   tools/run.sh graft.PlanDump <outDir> <suffix> <query...>
  * writes <outDir>/<query>_<suffix>.txt per query. Bench-shaped
  * session (SPARK_GRAFT_CPUS slots and shuffle partitions, default
  * nproc; the pinned AQE floor) so the dumped shapes match the
  * benched ones. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    // ADVICE r16: the session comes from the SAME builder the bench
    // uses (no inline config copy to drift), and the data dir is
    // required explicitly instead of defaulting to a machine path.
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("PlanDump: set SPARK_GRAFT_SF_DIR to the data dir to dump against"))
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$suffix.txt"), plan)
      println(s"wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
