package graft

/** Storage layout of the ANN serving indexes (q103 IVF×SQ, q154
  * IVF+PQ, q187/q201 IVF×BQ): the staged index table is written
  * hive-partitioned by `cell`, and the probe path pushes the probed
  * cells onto the scan as a LITERAL partition filter — so the serving
  * read selects the nprobe cells' directories at file-listing time
  * instead of scanning the whole index (the BucketingSpec discipline
  * applied to the ANN artifact). Correctness of the values is the DuckDB differential's
  * job; this spec pins the PLAN property that makes the design hold
  * at 100 TB.
  */
class IvfLayoutSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def partitionFilteredScans(plan: String): Seq[String] =
    "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq

  // The literal push-down this spec exists to pin: a cell IN-list of
  // actual values inside PartitionFilters (e.g. "cell#42L IN
  // (0,97,194)"; the attribute carries its type suffix, L for the
  // bigint cell the index is staged with). `isnotnull(cell#42L)` from a
  // bare equi-join must NOT satisfy it — that was exactly the
  // regression shape the first version of this spec could not catch.
  private val cellInList = "cell#\\d+L? IN \\(\\d+(,\\d+)*\\)".r

  private def assertLiteralCellPruning(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val pf = partitionFilteredScans(plan)
    assert(pf.exists(f => cellInList.findFirstIn(f).isDefined),
      s"$name: no literal cell IN-list in any PartitionFilters: ${pf.mkString("; ")}\n$plan")
  }

  test("q103 serving scan partition-prunes on cell with a literal IN-list") {
    assertLiteralCellPruning("q103_ann_ivf_sq")
  }

  test("q154 serving scan partition-prunes on cell with a literal IN-list") {
    assertLiteralCellPruning("q154_ann_ivfpq")
  }

  test("q187 serving scan partition-prunes on cell with a literal IN-list") {
    assertLiteralCellPruning("q187_ann_ivf_bq")
  }

  test("q201 serving scan partition-prunes on cell with a literal IN-list") {
    assertLiteralCellPruning("q201_ann_ivf_bq_tuned")
  }

  test("partitionedParquet round-trips schema types and column order") {
    import spark.implicits._
    val df = Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 10L, "c"))
      .toDF("id", "cell", "payload")
    val staged = graft.operators.Staged.partitionedParquet(
      spark, "ivf_layout_spec_roundtrip", "cell")(df)
    // names, types, and ORDER must round-trip (nullability may relax
    // through parquet — irrelevant to the oracle compare)
    assert(staged.schema.map(f => (f.name, f.dataType)) ==
        df.schema.map(f => (f.name, f.dataType)),
      s"schema drift: ${staged.schema} vs ${df.schema}")
    assert(staged.collect().map(_.getLong(1)).sorted.toSeq == Seq(10L, 10L, 20L))
    // a literal filter on the partition column prunes at listing time
    val probed = staged.filter(org.apache.spark.sql.functions.col("cell") === 10L)
    probed.collect()
    val plan = probed.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell[^\\]]*\\]".r.findFirstIn(plan).isDefined,
      s"no partition filter:\n$plan")
  }

  test("a stage's recorded schema is the one a footer read infers (serve and IVF stages)") {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.functions.col
    Seq("q25_domain_gold", "q174_ann_graph_search", "q103_ann_ivf_sq")
      .foreach(q => SparkEntry.queries(q)(spark, sfDir))
    val keys = graft.operators.Staged.buildTimings.keys.filter(_.contains(sfDir)).toSeq.sorted
    assert(keys.exists(_.startsWith("q174graph|")) &&
      keys.exists(_.startsWith("partitioned[cell]|ivfsq_idx|")), s"stages built: $keys")
    val Partitioned = """partitioned\[(.+?)\]\|(.+)""".r
    keys.foreach {
      case k @ Partitioned(partCol, key) =>
        val staged = graft.operators.Staged.partitionedParquet(spark, key, partCol)(sys.error(s"$k rebuilt"))
        val dir = new Path(staged.inputFiles.head).getParent.getParent.toString
        val inferred = spark.read.parquet(dir)
        // inference types the partition column from its directory names
        // and puts it last; every data column must match as written
        assert(inferred.schema.filter(_.name != partCol) == staged.schema.filter(_.name != partCol),
          s"$k: recorded ${staged.schema} vs footer ${inferred.schema}")
        val cells = inferred.select(col(partCol).cast(staged.schema(partCol).dataType))
        assert(staged.select(partCol).exceptAll(cells).isEmpty &&
          cells.exceptAll(staged.select(partCol)).isEmpty, s"$k: partition values differ")
      case k =>
        val staged = graft.operators.Staged.parquet(spark, k)(sys.error(s"$k rebuilt"))
        val inferred = spark.read.parquet(new Path(staged.inputFiles.head).getParent.toString)
        assert(inferred.schema == staged.schema,
          s"$k: recorded ${staged.schema} vs footer ${inferred.schema}")
    }
  }
}
