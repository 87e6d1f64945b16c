package graft
/** Dev tool: time one query through the noop sink (bench conditions). */
object TimeProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // bench-shaped session from the shared builder (ADVICE r16)
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")
    args.foreach { name =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"$name run$i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
        spark.sharedState.cacheManager.clearCache()
      }
    }
    spark.stop()
  }
}
