package graft

import org.apache.spark.sql.functions._

/** Runtime re-optimization evidence: the engine's declarative plans
  * compose with Spark's runtime defenses — the safety net for the
  * skew and selectivity surprises that only show up in production
  * data. The STRUCTURAL fixes stay first-choice (q87's head/tail
  * split, SaltedJoin, broadcast dims); these tests pin that the
  * runtime layer engages when those assumptions miss.
  *
  * Thresholds are lowered to make the optimizations fire at test
  * scale — the point is the MECHANISM (injected filter / split
  * partitions), which is size-triggered identically at 100 TB with
  * the default thresholds.
  */
class AdaptiveSpec extends SparkSuite {

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      pairs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("suite session carries BenchSession's pinned confs") {
    // Specs must run under the session the bench measures: the AQE
    // coalescing floor, the hash-aggregate fallback threshold, UTC,
    // one shuffle partition per slot, the generated-class cache size and
    // one executor class loader shared by every session.
    val c = spark.conf
    assert(c.get("spark.sql.adaptive.coalescePartitions.minPartitionSize") == "64k")
    assert(c.get("spark.sql.codegen.cache.maxEntries") == "8192")
    assert(c.get("spark.sql.artifact.isolation.enabled") == "false")
    assert(c.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "65536")
    assert(c.get("spark.sql.session.timeZone") == "UTC")
    assert(c.get("spark.sql.shuffle.partitions").toInt ==
      spark.sparkContext.defaultParallelism)
  }

  test("runtime bloom filter: a selective dim filter injects might_contain into the fact scan side") {
    // A filtered build side makes Catalyst inject a bloom-filter
    // aggregate over the build keys and a might_contain predicate on
    // the probe side — rows that cannot join die BEFORE the shuffle.
    // At 100 TB this is the difference between shuffling the whole
    // fact table and shuffling the ~matching slice.
    withConfs(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      val ord = spark.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .groupBy("o_orderpriority").count()
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"runtime bloom filter not injected:\n$plan")
    }
  }

  test("AQE skew join: a Zipf-hot key splits the skewed partition at runtime (skew=true)") {
    // One key carrying 80% of the probe rows — the distribution
    // SaltedJoin handles structurally when known ahead; here the key
    // is a surprise and AQE must detect the oversized partition from
    // runtime shuffle statistics and split it.
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val probe = spark.range(500000).select(
        when(col("id") % 5 =!= 0, lit(7L)).otherwise(col("id") % 100).as("k"),
        concat(lit("payload_payload_payload_"), col("id")).as("payload"))
      val build = spark.range(100).select(col("id").as("k"), (col("id") * 2).as("v"))
      // select-only consumer: a downstream groupBy on the join key
      // would REQUIRE hashpartitioning(k) and (without force) forbid
      // the split — which is itself part of the documented semantics.
      val j = probe.join(build, "k").select(col("k"), col("payload"), col("v"))
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not split the skewed partition:\n$plan")
    }
  }
}
