package graft

import graft.operators.Staged

/** Regression coverage for the Staged re-entrancy bug (round-9 verdict
  * #1): running a build INSIDE `ConcurrentHashMap.computeIfAbsent`
  * threw `IllegalStateException: Recursive update` when a nested stage
  * (q136's kNN graph staging on top of the staged hier chain) inserted
  * while the memo was resizing. The failure was state-dependent — it
  * needed the ~20+ keys a full-suite bench accumulates — so the spec
  * pre-populates enough keys to force table growth (JDK CHM default
  * capacity 16, resizes at 12 and 24) before exercising the nested
  * stage, which is exactly the access pattern that fired in
  * BENCH_r09.
  */
class StagedSpec extends SparkSuite {
  import spark.implicits._

  test("nested stage after memo growth (regression: Recursive update)") {
    // Force at least two table resizes worth of entries first.
    (1 to 32).foreach { i =>
      val df = Staged.parquet(spark, s"stagedspec_pad_$i")(Seq(i).toDF("v"))
      assert(df.count() == 1)
    }
    // Outer build stages an inner artifact — the nested pattern.
    var innerBuilds = 0
    var outerBuilds = 0
    val out = Staged.parquet(spark, "stagedspec_outer") {
      outerBuilds += 1
      val inner = Staged.parquet(spark, "stagedspec_inner") {
        innerBuilds += 1
        Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "tag")
      }
      inner.filter($"id" > 1)
    }
    assert(out.count() == 2)
    assert(outerBuilds == 1 && innerBuilds == 1)
    // Re-reads serve the stage — neither build runs again.
    assert(Staged.parquet(spark, "stagedspec_outer")(sys.error("must not rebuild")).count() == 2)
    assert(Staged.parquet(spark, "stagedspec_inner")(sys.error("must not rebuild")).count() == 3)
    assert(outerBuilds == 1 && innerBuilds == 1)
  }

  test("nested partitioned stage after memo growth") {
    (33 to 48).foreach { i =>
      Staged.parquet(spark, s"stagedspec_pad_$i")(Seq(i).toDF("v")).count()
    }
    val out = Staged.partitionedParquet(spark, "stagedspec_pouter", "cell") {
      val inner = Staged.partitionedParquet(spark, "stagedspec_pinner", "cell") {
        Seq((1L, 0, 1.0), (2L, 0, 2.0), (3L, 1, 3.0)).toDF("id", "cell", "x")
      }
      inner.filter($"x" > 1.0)
    }
    // Schema shape survives the partition round-trip (order + types).
    assert(out.columns.toSeq == Seq("id", "cell", "x"))
    assert(out.schema("cell").dataType == org.apache.spark.sql.types.IntegerType)
    assert(out.count() == 2)
  }

  test("failed build is retried, not memoized") {
    var attempts = 0
    intercept[RuntimeException] {
      Staged.parquet(spark, "stagedspec_flaky") {
        attempts += 1
        sys.error("boom")
      }
    }
    val ok = Staged.parquet(spark, "stagedspec_flaky") {
      attempts += 1
      Seq(42).toDF("v")
    }
    assert(ok.count() == 1)
    assert(attempts == 2)
  }

  test("a build's jobs carry its stage key; a nested build pushes and pops it") {
    val jobs = jobsDuring {
      Staged.parquet(spark, "stagedspec_label_outer") {
        spark.range(10).count(): Unit
        Staged.parquet(spark, "stagedspec_label_inner")(Seq(2).toDF("v")).count(): Unit
        Seq(3).toDF("v")
      }.count()
    }
    val labels = jobs.map(_.stage.getOrElse("-"))
    // consecutive jobs of one build collapse to one entry
    val runs = labels.zipWithIndex.collect {
      case (l, i) if i == 0 || labels(i - 1) != l => l
    }
    assert(runs == Seq("stagedspec_label_outer", "stagedspec_label_inner",
      "stagedspec_label_outer", "-"), s"job labels in order: $jobs")
    // the nested build is its write job alone, read off the same record
    assert(jobs.count(_.stage.contains("stagedspec_label_inner")) == 1,
      s"the nested build's jobs: $jobs")
    assert(spark.sparkContext.getLocalProperty(Staged.StageProperty) == null,
      "the stage property outlived its build")
  }

  test("a stage build runs no job after its write job") {
    // The build records the schema it wrote; reading the footer back to
    // infer it was one more job per stage build.
    val jobs = jobsDuring(Staged.parquet(spark, "stagedspec_write_only")(spark.range(100).toDF("v")))
    assert(jobs.size == 1, s"a one-stage build ran ${jobs.size} jobs: $jobs")
  }
}
