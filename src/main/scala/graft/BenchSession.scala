package graft

import org.apache.spark.sql.SparkSession

/** The ONE place a SparkSession is built: Bench, Verify, the test
  * suites (SparkSuite) and the dev mains all take their session from
  * here, so the config the specs run under is the config the bench
  * measures and the plans are dumped from.
  *
  * One of its confs is static per JVM, not per session:
  * `spark.sql.codegen.cache.maxEntries` is read once, when the first
  * code generation in the JVM initialises Spark's generated-class
  * cache. It holds only because every session in this repo comes from
  * here; a JVM whose first session is built elsewhere keeps Spark's
  * default of 100 classes and recompiles on every warm query.
  * The cache also keys classes by the executor's class loader, so
  * `spark.sql.artifact.isolation.enabled` is off: with it on, each new
  * session (every streaming query's clone) gets a loader of its own and
  * misses every class compiled before it.
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
      // Spark keeps 100 generated classes per JVM by default, and one
      // hierarchical k-means build alone compiles about 108, so a warm
      // query evicted its own classes and recompiled them (4307
      // compiles in a warm sf0.1 registry pass at 100 entries, 174 at
      // 8192). A full cold pass holds about 3.6k distinct classes:
      // 8192 keeps the working set with a bounded metaspace.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // Spark keys that cache by class loader too, and with artifact
      // isolation on (the default) every new session, including the
      // clone each streaming query runs on, gets its own executor class
      // loader. So every Incremental.runOnce tick recompiled its
      // executor classes (29 per perfbench ingest tick), JIT-compiled
      // them afresh and pinned the old loader in the cache. No session
      // here adds artifacts, so one shared loader loses nothing: a warm
      // ingest tick now compiles 1 class.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The events table's `ts` has shipped as parquet TIMESTAMP(NANOS),
      // which Spark reads only as a raw LongType (see Tables.events).
      // Pinned here, not set by the events loader, because the conf
      // changes parquet inference and so every table's schema key:
      // flipping it mid-session made each table read after the first
      // events query infer its schema again.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
