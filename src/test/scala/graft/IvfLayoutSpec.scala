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
  // actual values inside PartitionFilters (e.g. "cell#42 IN
  // (0,97,194)"). `isnotnull(cell#42)` from a bare equi-join must NOT
  // satisfy it — that was exactly the regression shape the first
  // version of this spec could not catch.
  private val cellInList = "cell#\\d+ IN \\(\\d+(,\\d+)*\\)".r

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
}
