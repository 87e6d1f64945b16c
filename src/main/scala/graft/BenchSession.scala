package graft

import org.apache.spark.sql.SparkSession

/** The ONE place a SparkSession is built: Bench, Verify, the test
  * suites (SparkSuite) and the dev probes (PlanDump, TimeProbe,
  * ScaleProbe, BuildProbe, KnobProbe) all take their session from
  * here, so the config the specs run under is the config the bench
  * measures and the plans are dumped from.
  */
object BenchSession {
  /** The pinned session at `SPARK_GRAFT_CPUS` local slots, defaulting
    * to the machine's processor count. */
  def create(): SparkSession =
    create(sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString))

  /** Build the pinned session at `cpus` local slots (shuffle
    * partitions = slots, the bench convention). */
  def create(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // ObjectHashAggregate (min_by/collect over struct buffers) falls
      // back to SORT-based aggregation after 128 distinct keys per
      // partition by default — pathological for high-cardinality
      // entity-resolution aggregates (sorts every candidate). 64k keys
      // x ~1KB buffers caps the map at ~64MB/partition: hash stays hash.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      // AQE's partition coalescing is byte-driven (parallelismFirst is
      // still floored by minPartitionSize = 1MB), so a CPU-dense
      // small-byte shuffle — candidate-pair scoring, md5 explodes —
      // coalesces to a handful of tasks and serializes on a 32-core
      // executor (q34 ran its whole tail on 4 of 32 slots). A 64k
      // floor keeps small hot shuffles at full parallelism and is
      // invisible at scale, where partitions are GB-sized.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
