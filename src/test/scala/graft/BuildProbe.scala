package graft

/** Dev tool: measured STAGE-BUILD scale probe (VERDICT r11 #1 — the
  * q174 graph-build grade). [[ScaleProbe]] times warm SERVING runs,
  * which deliberately exclude stage builds; this probe does the
  * opposite: it drives each face once at the base dir and once at the
  * `make_scale.py` replica, then prints every [[graft.operators.Staged]]
  * build timing (keys embed the dir, so one JVM holds both sides) and
  * the Spark jobs each build ran itself (nested builds count toward
  * their own key), read from the `Staged.StageProperty` local property
  * on every job start, and the codegen compiles of each dir pass.
  * The 10x/1x ratio of a staged key is the BUILD scale story for that
  * artifact — for `q174graph|…` it must be ~linear now that the hub
  * layer is NN-Descent + constant-K super-hubs instead of a hub-pair
  * cartesian.
  */
object BuildProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALED", "/tmp/sf1x")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    val stageJobs = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p =>
          Option(p.getProperty(graft.operators.Staged.StageProperty)))
          .foreach(k => stageJobs.merge(k, 1L, (a, b) => a + b): Unit)
    })

    val faces =
      if (args.nonEmpty) args.toSeq
      else Seq("q174_ann_graph_search", "q175_ann_graph_delta",
        "q178_ann_graph_compaction", "q180_ann_graph_reinsert",
        // q130 drives the bpe_merges stage (r13 verdict #7): the
        // trainer's 8 sequential argmax jobs are the one staged build
        // family whose 10x ratio was previously unmeasured.
        "q130_bpe_merges")

    // One CODEGEN line per dir pass: the generated classes compiled
    // during the pass and their summed compile seconds (all threads).
    Seq(base, scaled).foreach { dir =>
      val (compiles0, compileNs0) = Bench.codegenTotals()
      faces.foreach { name =>
        SparkEntry.queries(name)(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      val (compiles1, compileNs1) = Bench.codegenTotals()
      val compileSec = (compileNs1 - compileNs0) / 1e9
      println(f"""CODEGEN {"dir":"$dir","compiles":${compiles1 - compiles0},"compile_s":$compileSec%.3f}""")
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    graft.operators.Staged.buildTimings.toSeq.sortBy(_._1).foreach {
      case (k, v) =>
        val jobs = Option(stageJobs.get(k)).fold(0L)(_.longValue)
        println(f"""STAGE {"key":"$k","sec":$v%.3f,"jobs":$jobs}""")
    }

    // NN-Descent hub-layer quality gate (VERDICT r12 #4): the fixed
    // 2-round hub build is exactness-checked only at the small-SF hub
    // counts; this pins the claim AT SCALE — the q174 walk's head-hit
    // count at the scaled dir must stay above the serving non-vacuity
    // floor, so a degenerate routing layer (stride-ring init that two
    // rounds failed to densify) fails the probe loudly instead of
    // surfacing as a silent recall cliff.
    if (faces.contains("q174_ann_graph_search"))
      Seq(base, scaled).foreach { dir =>
        val hits = SparkEntry.queries("q174_ann_graph_search")(spark, dir)
          .agg(org.apache.spark.sql.functions.sum("hit"))
          .collect()(0).getLong(0)
        println(s"""HITS {"query":"q174_ann_graph_search","dir":"$dir","hits":$hits}""")
        require(hits >= 5, s"hub routing degenerated at $dir: $hits/64 head hits")
      }
    spark.stop()
  }
}
