package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{LogQuantile, MergeInto, ParquetRead}

/** Streaming quantile serving — [[graft.operators.LogQuantile]] wired
  * into the same `foreachBatch` + versioned-bucket gold discipline as
  * [[Incremental]]: each micro-batch sketches its rows (per-(key,
  * bucket) counts, the DDSketch state) and accumulates them into a
  * persistent bucketed sketch table with `MergeInto.mergeBucketed`;
  * quantile reads walk the served histogram, never the data.
  *
  * Why this composes exactly-once for free: the sketch state is
  * nothing but counts, counts merge by addition, and mergeBucketed's
  * versioned `v=<epoch>/bucket=<hash>` layout makes each epoch's
  * addition idempotent under Spark's at-least-once batch retry (a
  * replayed epoch recomputes from pre-epoch state — the Incremental
  * contract, re-used verbatim). At 100 TB the serving read is the
  * CONSTANT-size sketch table (≤ keys × ~2.3k buckets), not the
  * stream's history; per-batch IO is proportional to the key buckets
  * the batch touches.
  *
  * Reference anchor: the `$inc` counter upsert
  * (transformer_loader/main.py:184-190) generalized from sum/count
  * counters to a mergeable quantile histogram — the gold-statistics
  * path a latency/size-percentile dashboard needs that plain counters
  * cannot serve.
  */
object QuantileServe {

  /** Sketch-table hash-bucket fan-out (same grain note as
    * [[Incremental.NumBuckets]]). */
  val NumBuckets = 8

  /** Epoch-claim writer id for the sketch layout (the
    * [[Incremental.Writer]] rationale: one named path today, loud
    * failure on any future second path's epoch collision). */
  private val Writer = "sketch"

  /** One pass over the bronze backlog (`Trigger.AvailableNow`):
    * sketch each micro-batch and merge it into `sketchDir`. Each call
    * is a fresh query resumed from `checkpointDir` — calling it per
    * poll tick exercises stop/restart on every boundary. */
  def runOnce(
      spark: SparkSession,
      bronzeDir: String,
      keys: Seq[String],
      valueCol: String,
      sketchDir: String,
      checkpointDir: String): StreamingQuery = {
    val schema = ParquetRead.sourceSchema(spark, bronzeDir)
    val bronze = spark.readStream.schema(schema).parquet(bronzeDir)
    bronze.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        if (!batch.isEmpty)
          // private batch id -> global layout epoch (stable on replay)
          processBatch(spark, batch.toDF(), keys, valueCol, sketchDir,
            MergeInto.epochFor(spark, sketchDir, Writer, epochId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** One micro-batch: sketch the batch, accumulate per-(key, bucket)
    * counts into the versioned layout. Idempotent per (batch,
    * epochId) — the mergeBucketed retry contract. Exposed for the
    * retry spec (the Incremental.processBatch pattern). */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      keys: Seq[String],
      valueCol: String,
      sketchDir: String,
      epochId: Long): Unit = {
    val sk = LogQuantile.sketch(batch, keys, col(valueCol))
    // an all-filtered batch yields no touched buckets; mergeBucketed
    // is a no-op there by construction
    MergeInto.mergeBucketed(spark, sketchDir,
        updates = sk,
        keys = keys :+ "__lq_b",
        aggs = Seq(sum(col("__lq_c")).as("__lq_c")),
        epochId = epochId,
        bucketOn = concat_ws("|", keys.map(col): _*),
        numBuckets = NumBuckets,
        writer = Writer)
  }

  /** Current served sketch: per-(keys, __lq_b) counts. None before the
    * first merged batch. */
  def readSketch(spark: SparkSession, sketchDir: String): Option[DataFrame] =
    MergeInto.readBucketed(spark, sketchDir).map(_.drop("bucket"))

  /** Quantile estimates straight off the served sketch — one row per
    * key, one column per requested p, each within α of the exact
    * discrete quantile of everything ingested so far. */
  def serveQuantiles(
      spark: SparkSession,
      sketchDir: String,
      keys: Seq[String],
      ps: Seq[(String, Double)]): Option[DataFrame] =
    readSketch(spark, sketchDir).map(sk => LogQuantile.quantiles(sk, keys, ps))
}
