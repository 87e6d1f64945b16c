package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.streaming.GraphIngest
import graft.queries.Clustering

/** Streaming navigable-graph maintenance (q175's frozen-layer attach
  * as a stream): the stream-merged edge set must equal q175's batch
  * ground truth edge for edge, batch-at-a-time must equal one-shot
  * (the per-vector-independence claim), replays must be idempotent,
  * and the wrapper must survive a restart at a batch boundary — the
  * [[TombstoneIngestSpec]] exactly-once stance applied to the graph
  * artifact.
  */
class GraphIngestSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** q175's batch ground truth: the maintained edge set (va, vb). */
  private def batchTruth = SparkEntry.queries("q175_ann_graph_delta")(spark, sfDir)
    .select(col("va"), col("vb"))
    .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("batched attach: two batches equal one-shot q175 truth, replay idempotent") {
    val dir = Files.createTempDirectory("graft_gingest").toString
    val (baseM, delta) = Clustering.navPopulations(spark, sfDir)
    val (bHub, bSH) = Clustering.navFrozenLayers(spark, sfDir)
    GraphIngest.seed(spark, dir, Clustering.navBaseGraph(spark, sfDir))

    // split the delta arbitrarily in two — attach edges are per-vector
    // independent, so the split must not matter
    val b1 = delta.filter(col("vec_id") % 20 === 0)
    val b2 = delta.filter(col("vec_id") % 20 =!= 0)
    GraphIngest.applyAttach(spark, dir, b1.drop("nsq"), baseM, bHub, bSH, epochId = 1)
    GraphIngest.applyAttach(spark, dir, b2.drop("nsq"), baseM, bHub, bSH, epochId = 2)

    def edges() = GraphIngest.serveGraph(spark, dir).get
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val streamed = edges()
    assert(streamed == batchTruth,
      s"batched attach diverges from one-shot: extra=${streamed -- batchTruth} missing=${batchTruth -- streamed}")

    // replay epoch 2 (at-least-once retry): same edges after
    GraphIngest.applyAttach(spark, dir, b2.drop("nsq"), baseM, bHub, bSH, epochId = 2)
    assert(edges() == batchTruth, "replayed epoch changed the graph")

    // provenance: base edges never touch a delta id, attach edges
    // always do (the q175 analytic-provenance law on the merged layout)
    val byOrigin = GraphIngest.serveGraph(spark, dir).get
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    byOrigin.foreach { case (va, vb, origin) =>
      val touchesDelta = va % 10 == 0 || vb % 10 == 0
      assert((origin == "attach") == touchesDelta,
        s"($va,$vb) origin=$origin but touchesDelta=$touchesDelta")
    }
  }

  test("streaming wrapper: two event files, restart between passes, equals batch truth") {
    val root = Files.createTempDirectory("graft_gingest_stream")
    val graphDir = root.resolve("graph").toString
    val evDir = root.resolve("events").toString
    val ckpt = root.resolve("ckpt").toString
    val (baseM, delta) = Clustering.navPopulations(spark, sfDir)
    val (bHub, bSH) = Clustering.navFrozenLayers(spark, sfDir)
    GraphIngest.seed(spark, graphDir, Clustering.navBaseGraph(spark, sfDir))

    val t0 = lit(java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))
    val t1 = lit(java.sql.Timestamp.valueOf("2026-01-01 01:00:00"))
    val ev = delta.select(col("vec_id"), col("fcid"), col("embedding"))
    // first backlog file: half the delta, with one duplicate delivery
    val half = ev.filter(col("vec_id") % 20 === 0)
    half.unionByName(half.limit(1)).withColumn("timestamp", t0)
      .write.mode("append").parquet(evDir)
    GraphIngest.runOnce(spark, evDir, graphDir, ckpt, baseM, bHub, bSH)
      .awaitTermination()

    // restart: new backlog file, SAME checkpoint — committed offsets
    // skip the first file, only the new vectors attach
    ev.filter(col("vec_id") % 20 =!= 0).withColumn("timestamp", t1)
      .write.mode("append").parquet(evDir)
    GraphIngest.runOnce(spark, evDir, graphDir, ckpt, baseM, bHub, bSH)
      .awaitTermination()

    val streamed = GraphIngest.serveGraph(spark, graphDir).get
      .select(col("va"), col("vb"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed == batchTruth,
      s"stream-merged graph diverges from batch truth: extra=${streamed -- batchTruth} missing=${batchTruth -- streamed}")
  }
}
