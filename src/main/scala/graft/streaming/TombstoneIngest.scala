package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{MergeInto, ParquetRead}

/** STREAMING TOMBSTONE INGESTION for the ANN serving index — the
  * maintenance path of q163/q167 run as a stream instead of a batch
  * job: delete events arrive continuously, and the serving index
  * accumulates `is_deleted` flags under the same versioned-bucket
  * MergeInto discipline as [[Incremental]]'s gold table (exactly-once
  * under at-least-once replay because each epoch overwrites its own
  * `v=` directory and merges from pre-epoch state only).
  *
  * Index contract: one row per `vec_id` carrying the serving payload
  * (cell assignment + whatever the search kernel needs) and the
  * `is_deleted` flag. A delete event is just a vec_id: the merge
  * flips the flag and PRESERVES the payload (merge-on-read — the
  * physical rewrite stays q167's compaction job). A delete for an id
  * the index doesn't hold yet persists as an orphan tombstone (null
  * payload, flag set): serving filters `NOT is_deleted`, so it can
  * never serve, and a late-arriving insert of that id must merge
  * against it — the standard lakehouse late-data stance.
  *
  * Scale shape: a delete batch's IO is proportional to the BUCKETS
  * its vec_ids hash into (MergeInto reads/rewrites only touched
  * `bucket=` directories), never the index size; dedup state for the
  * event stream is watermark-bounded exactly like [[Incremental]]'s
  * ingest; the only driver-side materialization is the bounded
  * touched-bucket list.
  *
  * EPOCH DISCIPLINE (the two-writer hazard): inserts and deletes are
  * maintenance paths of the SAME versioned layout, so their epochs
  * must come from ONE global monotone sequence — two independent
  * batch-id counters colliding on an epoch would have the second
  * path overwrite the first's `v=` directory for shared buckets
  * while merging from pre-epoch state that excludes it. Each path
  * writes under its own writer id ("inserts"/"deletes"), MergeInto
  * REFUSES a cross-writer epoch collision instead of losing rows,
  * and streaming callers map their private batch ids into the shared
  * sequence with [[graft.operators.MergeInto.epochFor]] (see
  * [[runOnce]]). Batch callers passing explicit epochs own the
  * sequence: interleave the paths, never reuse a number across them.
  * Merges must be serialized (one in flight per layout) — plain
  * parquet has no cross-process commit log.
  */
object TombstoneIngest {

  /** Bucket fan-out of the versioned index layout (see
    * [[Incremental.NumBuckets]] for the tuning rationale). */
  val NumBuckets = 16

  /** Duplicate-delivery horizon for delete-event dedup state. */
  val DedupDelay = "24 hours"

  private val FlagCol = "is_deleted"

  /** Merge aggregates: every payload column keeps its (unique)
    * non-null value; the flag is an OR across state + deletes. */
  private def mergeAggs(payloadCols: Seq[String]) =
    payloadCols.map(c => first(col(c), ignoreNulls = true).as(c)) :+
      max(col(FlagCol)).as(FlagCol)

  /** Seed the versioned layout from a base index at epoch 0. `base`
    * must carry `vec_id` and the payload columns; rows start live. */
  def seed(spark: SparkSession, indexDir: String, base: DataFrame): Unit = {
    val cols = base.columns.filterNot(c => c == "vec_id" || c == FlagCol).toSeq
    MergeInto.mergeBucketed(spark, indexDir,
      updates = base.withColumn(FlagCol, lit(false)),
      keys = Seq("vec_id"),
      aggs = mergeAggs(cols),
      epochId = 0L,
      bucketOn = col("vec_id"),
      numBuckets = NumBuckets,
      writer = "seed")
  }

  /** Apply one insert batch (full payload rows, `vec_id` + the
    * seeded payload columns) at `epochId` — the q162 delta path run
    * through the same versioned merge as deletes. EXACTLY-ONCE on
    * ids, not just idempotent per epoch: inserts are anti-joined
    * against the PRE-EPOCH state (the same state a replayed batch
    * merges onto), so a vec_id the index already holds — including a
    * tombstoned one — is dropped, never double-inserted or silently
    * revived. Append-only corpus + deletes is the modeled lifecycle;
    * a revive is a new vec_id, the lakehouse surrogate-key stance. */
  def applyInserts(spark: SparkSession, indexDir: String,
      rows: DataFrame, epochId: Long): Unit = {
    val shaped = rows.withColumn(FlagCol, lit(false))
      .withColumn("bucket", pmod(hash(col("vec_id")), lit(NumBuckets)))
    // bucket-pruned pre-epoch read: only the buckets this batch's ids
    // hash into are consulted (bounded driver list, the MergeInto
    // discipline)
    val touched = shaped.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSet
    val fresh = MergeInto.readVersions(spark, indexDir,
        beforeEpoch = Some(epochId), buckets = Some(touched)) match {
      case Some(prior) =>
        shaped.join(prior.select(col("vec_id")), Seq("vec_id"), "left_anti")
      case None => shaped
    }
    val cols = rows.columns.filterNot(c => c == "vec_id" || c == FlagCol).toSeq
    MergeInto.mergeBucketed(spark, indexDir,
      updates = fresh.drop("bucket"),
      keys = Seq("vec_id"),
      aggs = mergeAggs(cols),
      epochId = epochId,
      bucketOn = col("vec_id"),
      numBuckets = NumBuckets,
      writer = "inserts")
  }

  /** Apply one delete batch (a `vec_id` column; extra columns are
    * ignored) at `epochId`. IDEMPOTENT per (deletes, epochId): a
    * replayed batch overwrites its own `v=` directory from pre-epoch
    * state — and doubly so because the flag merge is an OR. */
  def applyDeletes(spark: SparkSession, indexDir: String,
      deletes: DataFrame, epochId: Long): Unit = {
    val current = MergeInto.readBucketed(spark, indexDir).getOrElse(
      sys.error(s"tombstone ingest against an unseeded index at $indexDir"))
    val payloadCols = current.columns
      .filterNot(c => c == "vec_id" || c == FlagCol || c == "bucket").toSeq
    // delete rows carry typed null payloads so the union in
    // mergeAggregate lines up schema-exactly with the index state
    val shaped = payloadCols.foldLeft(
        deletes.select(col("vec_id")).distinct()) { (df, c) =>
      df.withColumn(c, lit(null).cast(current.schema(c).dataType))
    }.withColumn(FlagCol, lit(true))
    MergeInto.mergeBucketed(spark, indexDir,
      updates = shaped,
      keys = Seq("vec_id"),
      aggs = mergeAggs(payloadCols),
      epochId = epochId,
      bucketOn = col("vec_id"),
      numBuckets = NumBuckets,
      writer = "deletes")
  }

  /** One streaming pass over the delete-event backlog
    * (`Trigger.AvailableNow`): watermark-bounded dedup on vec_id
    * (duplicate deliveries within the horizon collapse before the
    * merge — the [[Incremental.runOnce]] ingest discipline; the merge
    * itself is an OR, so a duplicate past the horizon is still
    * harmless), then one [[applyDeletes]] per micro-batch. The
    * micro-batch's PRIVATE id is mapped into the layout's global
    * epoch sequence with `MergeInto.epochFor` — a replayed batch gets
    * its original epoch back (idempotent overwrite), a fresh batch
    * gets max+1, and an insert stream running its own checkpoint
    * against the same index can never collide with it. Events need
    * (vec_id, timestamp) with WRITE-time stamps — see
    * [[Incremental.runOnce]] for the late-data contract. */
  def runOnce(spark: SparkSession, deletesDir: String, indexDir: String,
      checkpointDir: String): StreamingQuery = {
    val schema = ParquetRead.sourceSchema(spark, deletesDir)
    val events = spark.readStream.schema(schema).parquet(deletesDir)
      .withWatermark("timestamp", DedupDelay)
      .dropDuplicatesWithinWatermark("vec_id")
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], epochId: Long) =>
        if (!batch.isEmpty)
          applyDeletes(spark, indexDir, batch.toDF(),
            MergeInto.epochFor(spark, indexDir, "deletes", epochId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The live serving view (q163's serve source): newest complete
    * version per bucket, tombstones filtered out. */
  def serveLive(spark: SparkSession, indexDir: String): Option[DataFrame] =
    MergeInto.readBucketed(spark, indexDir)
      .map(_.filter(!col(FlagCol)).drop("bucket"))

  /** The q163 per-cell maintenance audit over the CURRENT index:
    * live/dead counts, dead fraction, and the compact flag that hands
    * cells to q167's physical rewrite. */
  def cellAudit(spark: SparkSession, indexDir: String, threshold: Double)
      : Option[DataFrame] =
    MergeInto.readBucketed(spark, indexDir).map {
      _.filter(col("cell").isNotNull)
        .groupBy(col("cell"))
        .agg(sum(when(col(FlagCol), 0L).otherwise(1L)).as("live_n"),
          sum(when(col(FlagCol), 1L).otherwise(0L)).as("dead_n"))
        .withColumn("dead_frac", graft.functions.Num.fround(
          col("dead_n").cast("double") / (col("live_n") + col("dead_n")), 4))
        .withColumn("compact", col("dead_frac") > threshold)
    }
}
