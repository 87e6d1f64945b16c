package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{MergeInto, ParquetRead}

/** STREAMING NAVIGABLE-GRAPH MAINTENANCE — q175's frozen-layer attach
  * run as a stream instead of a batch job: delta vectors arrive
  * continuously (already assigned to their fine cluster by the frozen
  * quantizer upstream, the q85 path), each micro-batch computes its
  * attach edges against the FROZEN base layers only
  * ([[graft.queries.Clustering.attachEdges]] — the same code the
  * q175/q176 oracles prove cross-engine), and the edges merge into a
  * versioned edge layout under the [[Incremental]]/[[TombstoneIngest]]
  * MergeInto discipline (exactly-once under at-least-once replay:
  * each epoch overwrites its own `v=` directory and merges from
  * pre-epoch state only; private batch ids map into the layout's
  * global epoch sequence via [[MergeInto.epochFor]] under writer
  * "attach").
  *
  * Graph contract: one row per directed edge (va, vb) with an `origin`
  * payload ("base" for the seeded index, "attach" for maintenance
  * edges). The two origin populations are provably DISJOINT in key
  * space — the seeded base graph is built over base members only, so
  * no base edge touches a delta id, while every attach edge does (one
  * endpoint is the arriving vector) — so the first-non-null merge
  * aggregate never actually sees two different origins for one key;
  * relabeling is impossible by key disjointness, not by any ordering
  * guarantee of `first` (Spark's `first` over an aggregation is
  * order-nondeterministic and MUST not be relied on to arbitrate).
  * Because every attach edge depends
  * only on (delta vector, frozen layers), batch-at-a-time maintenance
  * equals one-shot attach of the whole delta — GraphIngestSpec proves
  * the streamed graph hash-equal to q175's batch output.
  *
  * Scale shape: a batch's merge IO is proportional to the `bucket=`
  * directories its va ids hash into, never the graph size; the attach
  * computation itself is cluster-bounded (top-3 mates) + constant
  * broadcast (super-hubs); dedup state is watermark-bounded. The only
  * driver-side materialization is MergeInto's bounded touched-bucket
  * list.
  */
object GraphIngest {

  /** Bucket fan-out of the versioned edge layout (see
    * [[Incremental.NumBuckets]] for the tuning rationale). */
  val NumBuckets = 16

  /** Duplicate-delivery horizon for delta-vector dedup state. */
  val DedupDelay = "24 hours"

  private val OriginCol = "origin"

  private def mergeAggs =
    Seq(first(col(OriginCol), ignoreNulls = true).as(OriginCol))

  private def mergeEdges(spark: SparkSession, graphDir: String,
      edges: DataFrame, origin: String, epochId: Long, writer: String): Unit =
    MergeInto.mergeBucketed(spark, graphDir,
      updates = edges.select(col("va"), col("vb"))
        .withColumn(OriginCol, lit(origin)),
      keys = Seq("va", "vb"),
      aggs = mergeAggs,
      epochId = epochId,
      bucketOn = col("va"),
      numBuckets = NumBuckets,
      writer = writer)

  /** Seed the versioned layout from the staged base graph (va, vb) at
    * epoch 0 — the pre-existing index artifact maintenance reads, not
    * recomputes. */
  def seed(spark: SparkSession, graphDir: String, baseEdges: DataFrame): Unit =
    mergeEdges(spark, graphDir, baseEdges, "base", epochId = 0L, writer = "seed")

  /** Apply one delta batch (vec_id, fcid, embedding — nsq is derived
    * here so event producers ship raw vectors) at `epochId`:
    * compute the frozen-layer attach edges and merge them. IDEMPOTENT
    * per (batch, epochId): attach edges are a deterministic function
    * of the batch + frozen layers, and a replayed epoch overwrites its
    * own `v=` directory from pre-epoch state. */
  def applyAttach(spark: SparkSession, graphDir: String, batch: DataFrame,
      baseM: DataFrame, bHub: DataFrame, bSH: DataFrame, epochId: Long): Unit = {
    val shaped = batch.select(col("vec_id"), col("fcid"), col("embedding"),
      graft.functions.VectorFns.normSq("embedding").as("nsq"))
    val edges = graft.queries.Clustering.attachEdges(shaped, baseM, bHub, bSH)
    mergeEdges(spark, graphDir, edges, "attach", epochId, writer = "attach")
  }

  /** One streaming pass over the delta-vector backlog
    * (`Trigger.AvailableNow`): watermark-bounded dedup on vec_id
    * (duplicate deliveries within the horizon collapse before the
    * attach; a duplicate past the horizon is still harmless — its
    * attach edges are identical and the edge merge keys dedup them),
    * then one [[applyAttach]] per micro-batch under an
    * [[MergeInto.epochFor]]-mapped epoch. Events need (vec_id, fcid,
    * embedding, timestamp) with WRITE-time stamps — see
    * [[Incremental.runOnce]] for the late-data contract. */
  def runOnce(spark: SparkSession, deltaDir: String, graphDir: String,
      checkpointDir: String, baseM: DataFrame, bHub: DataFrame,
      bSH: DataFrame): StreamingQuery = {
    val schema = ParquetRead.sourceSchema(spark, deltaDir)
    val events = spark.readStream.schema(schema).parquet(deltaDir)
      .withWatermark("timestamp", DedupDelay)
      .dropDuplicatesWithinWatermark("vec_id")
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        if (!batch.isEmpty)
          applyAttach(spark, graphDir, batch.toDF(), baseM, bHub, bSH,
            MergeInto.epochFor(spark, graphDir, "attach", batchId))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** The maintained adjacency (newest complete version per bucket):
    * (va, vb, origin). */
  def serveGraph(spark: SparkSession, graphDir: String): Option[DataFrame] =
    MergeInto.readBucketed(spark, graphDir).map(_.drop("bucket"))
}
