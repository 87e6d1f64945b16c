package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.domain.MatchTransform
import graft.operators.{MergeInto, ParquetRead}

/** The reference's micro-batch incremental pipeline (SURVEY.md §2.7) as
  * Structured Streaming: the per-document `processed: False→True` flag
  * and 1-minute poll loop (transformer_loader/main.py:83,204-207)
  * become checkpoint offsets + a trigger; the unique-matchId ingest
  * index (extractor/main.py:513) becomes watermark-bounded streaming
  * dedup; the `$inc` counter upsert (transformer_loader/main.py:
  * 184-190) becomes an update-mode merge in `foreachBatch`.
  *
  * Scale + exactly-once design (the parquet-pure MERGE substitute — on
  * Delta/Iceberg this whole dance is one `MERGE INTO`):
  *  - Dedup state is BOUNDED: `dropDuplicatesWithinWatermark` on the
  *    ingest-time column evicts a matchId's dedup state once the
  *    watermark passes its event time + delay (the reference's unique
  *    index grows forever; ours trades unbounded memory for a
  *    documented duplicate-arrival horizon).
  *  - Silver appends are IDEMPOTENT: each micro-batch overwrites its
  *    own `batch=<epochId>` partition, so an at-least-once retry of a
  *    failed batch rewrites the same directory instead of appending
  *    duplicates.
  *  - Gold is a BUCKET-PARTITIONED versioned table:
  *    `goldDir/v=<epochId>/bucket=<hash(puuid) mod N>/`. A batch
  *    rewrites ONLY the buckets its keys touch (not the world), each
  *    epoch's write is an idempotent overwrite of its own `v=` dir,
  *    and the merge reads the latest complete version BEFORE the
  *    current epoch per bucket — so a retried batch recomputes from
  *    pre-batch state instead of double-counting. Readers use
  *    [[readGold]] (newest complete version per bucket). Partial
  *    writes are invisible: versions without `_SUCCESS` are skipped.
  *  - Missing-vs-broken gold is distinguished: a nonexistent directory
  *    means "first batch" (merge starts empty); any OTHER read failure
  *    propagates and fails the batch (round 1 swallowed Throwable and
  *    would have silently reset all counters on a transient IO error).
  *
  * The only driver-side materialization is the ≤ [[NumBuckets]]-row
  * touched-bucket list — bounded metadata, not data.
  */
object Incremental {

  /** Gold hash-bucket fan-out. At 100 TB this is the partition grain a
    * real deployment tunes (buckets ≈ executors × small constant). */
  val NumBuckets = 16

  /** Epoch-claim writer id for the gold layout (see
    * [[graft.operators.MergeInto.mergeBucketed]]'s single-global-
    * sequence contract): the gold table has exactly one maintenance
    * path, and claiming its epochs under a named writer means any
    * FUTURE second path (a batch repair job, a second stream) fails
    * loudly on collision instead of silently dropping a batch. */
  private val Writer = "gold"

  /** Duplicate-arrival horizon for ingest dedup state. */
  val DedupDelay = "24 hours"

  /** Bronze directory stream → silver append + gold update, one pass
    * (`Trigger.AvailableNow`): processes the current backlog then
    * stops, the streaming equivalent of one reference poll tick.
    *
    * `timestamp` (the ingest audit column, extractor/main.py:427) must
    * be populated by the bronze writer WITH WRITE TIME — it drives the
    * dedup watermark, and streaming state drops input older than the
    * watermark: a row stamped more than [[DedupDelay]] earlier than
    * the maximum already seen is SILENTLY DISCARDED as late. That is
    * the documented price of bounded dedup state, and it is safe
    * exactly because write time is monotone up to clock skew « 24 h.
    * Do NOT stamp business/event time from inside the payload (it can
    * predate the watermark by years); a backfill writer must either
    * stamp backfill-run time or use a fresh checkpoint. */
  def runOnce(
      spark: SparkSession,
      bronzeDir: String,
      summoners: DataFrame,
      silverDir: String,
      goldDir: String,
      checkpointDir: String): StreamingQuery = {
    // Register session extensions BEFORE the query starts: the stream
    // executes on a cloned session whose function registry is copied at
    // start time.
    graft.functions.NormalizeNFKC.register(spark)
    val schema = ParquetRead.sourceSchema(spark, bronzeDir)
    val bronze = spark.readStream.schema(schema).parquet(bronzeDir)
      // exactly-once per match within the watermark horizon: replaces
      // the unique index + exists-check, with state that EVICTS.
      .withWatermark("timestamp", DedupDelay)
      .dropDuplicatesWithinWatermark("matchId")

    val query = bronze.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        if (!batch.isEmpty)
          // the checkpoint's private batch id maps into the layout's
          // global epoch sequence (stable on replay) — the
          // TombstoneIngest.runOnce discipline
          processBatch(spark, batch.toDF(), summoners, silverDir, goldDir,
            MergeInto.epochFor(spark, goldDir, Writer, epochId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    query
  }

  /** One micro-batch: silver staging + bucketed gold merge (routed
    * through [[graft.operators.MergeInto.mergeBucketed]]). IDEMPOTENT
    * per (inputs, epochId) — Spark's at-least-once batch retry re-runs
    * this with the same epochId, so both writes overwrite their own
    * epoch-keyed locations and the merge reads only state from BEFORE
    * this epoch (a completed v=epochId from the failed attempt is
    * ignored, never double-counted). Exposed for the retry spec. */
  def processBatch(
      spark: SparkSession,
      batch: DataFrame,
      summoners: DataFrame,
      silverDir: String,
      goldDir: String,
      epochId: Long): Unit = {
    val silver = MatchTransform.silver(batch, summoners)
      .drop(MatchTransform.TierCol)
      .persist()
    try {
      silver.write.mode("overwrite").parquet(s"$silverDir/batch=$epochId")
      MergeInto.mergeBucketed(spark, goldDir,
        updates = MatchTransform.goldFromSilver(silver),
        keys = Seq("puuid", "champion"),
        aggs = Seq(sum(col("games")).as("games"), sum(col("wins")).as("wins"),
          sum(col("kda_sum")).as("kda_sum")),
        epochId = epochId,
        bucketOn = col("puuid"),
        numBuckets = NumBuckets,
        writer = Writer)
    } finally silver.unpersist()
  }

  /** Current gold table: newest COMPLETE (`_SUCCESS`) version of each
    * bucket. Columns: puuid, champion, games, wins, kda_sum. */
  def readGold(spark: SparkSession, goldDir: String): Option[DataFrame] =
    MergeInto.readBucketed(spark, goldDir)

  /** Retention sweep for the versioned gold layout — see
    * [[graft.operators.MergeInto.compact]]. */
  def compactGold(spark: SparkSession, goldDir: String): Unit =
    MergeInto.compact(spark, goldDir)

  /** Streaming update-mode gold aggregation over an arbitrary silver
    * stream (used by the batch≡streaming equivalence test with
    * MemoryStream). */
  def goldStream(silverStream: DataFrame): DataFrame =
    silverStream.groupBy(col("puuid"), col("champion"))
      .agg(
        count(lit(1)).as("games"),
        sum(when(col("win") === true, 1L).otherwise(0L)).as("wins"),
        sum(col("kda")).as("kda_sum"))
}
