package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{Num, VectorFns}

/** Similarity search over the `embeddings` table (`embedding:
  * array<float>`, 64-dim): brute-force cosine top-k as the correctness
  * baseline, and random-hyperplane-LSH-bucketed ANN as the scale path.
  * The dot/norm kernel is the native codegen DotProductF expression
  * (identical accumulation order to the aggregate/zip_with
  * higher-order form, which is CodegenFallback) — no UDF, no
  * driver-side math.
  *
  * Scale design: brute-force is broadcast(small probe set) × corpus —
  * linear in corpus size, no shuffle of the corpus. The LSH variant
  * buckets the corpus by 8 hyperplane sign bits, so the candidate join
  * fans out only within a bucket (~1/256 of the corpus per probe),
  * which is what survives a 100 TB corpus; at production scale the
  * bucketed table would also be storage-partitioned by bucket.
  */
object Vectors {

  private val N_PROBES = 8

  /** q184: candidates kept per probe from the binary-code Hamming scan
    * before the exact re-rank (the BQ serving knob: wider = more
    * recall, same 16-byte scan). Declared with the top constants —
    * `val defs` forces the lazy QueryDefs during object init, so a
    * constant declared below `defs` would still read 0 inside an
    * eagerly-built oracle SQL string. 64 = 8× oversampling of the
    * k=8 result set — the published BQ serving range; measured
    * recall@8 vs exact at that width: 0.80 / 0.69 / 0.42 across
    * sf0.001/0.01/0.1 (64-bit sign codes are the coarsest quantizer
    * tier, 64× smaller than the float corpus — the production knob
    * is C, same 16-byte scan either way; 768-bit codes at real
    * embedding dims put the same recipe in the 0.95 band). */
  private val BqC = 64
  private val PqS = 8
  private val PqD = 8
  private val PqK = 8

  private def corpus(s: org.apache.spark.sql.SparkSession, dir: String) = {
    graft.functions.DotProductF.register(s)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"), col("embedding"),
        VectorFns.normSqF("embedding").as("nsq"))
  }

  /** Int8-quantized corpus: per-dimension global [min, max] (one tiny
    * aggregate broadcast back as a 1-row dim table) and floor-based
    * codes. All double arithmetic, floor rounding — no libm — so the
    * DuckDB mirror is bit-exact. Shared by q71 (codes + MSE) and q72
    * (ANN over codes). Columns: vec_id, embedding, mins, maxs, codes. */
  private def quantized(s: org.apache.spark.sql.SparkSession, dir: String) = {
    // Hygiene at the index build: a non-finite coordinate poisons the
    // per-dim [min, max] AND is unencodable itself (see finiteVec) —
    // the stored SQ artifact contains finite vectors only.
    val c = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      .filter(VectorFns.finiteVec("embedding"))
    val stats = c.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(min(col("x").cast("double")).as("mn"), max(col("x").cast("double")).as("mx"))
      .agg(
        expr("transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)").as("mins"),
        expr("transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)").as("maxs"))
    c.crossJoin(broadcast(stats))
      .withColumn("codes", expr(
        """transform(embedding, (x, i) ->
             CASE WHEN maxs[i] = mins[i] THEN 0
             ELSE cast(floor((cast(x AS double) - mins[i])
               / (maxs[i] - mins[i]) * 255.0D + 0.5D) AS int) END)"""))
  }

  /** DuckDB mirror of [[quantized]] as CTEs defining `q(vec_id,
    * embedding, mins, maxs, codes)`. */
  private val quantizedSqlCtes: String =
    s"""fe AS (
         SELECT vec_id, embedding FROM embeddings
         WHERE ${VectorFns.finiteVecSql("embedding")}),
       dims AS (
         SELECT i AS pos, min(embedding[i]::DOUBLE) AS mn, max(embedding[i]::DOUBLE) AS mx
         FROM fe, unnest(generate_series(1, 64)) AS t(i)
         GROUP BY i),
       s AS (
         SELECT list(mn ORDER BY pos) AS mins, list(mx ORDER BY pos) AS maxs FROM dims),
       q AS (
         SELECT vec_id, embedding, mins, maxs,
           [CASE WHEN maxs[i] = mins[i] THEN 0
            ELSE floor((embedding[i]::DOUBLE - mins[i])
              / (maxs[i] - mins[i]) * 255.0 + 0.5)::INT END
            for i in generate_series(1, 64)] AS codes
         FROM fe CROSS JOIN s)"""

  /** IVF coarse-quantizer cell count, shared by q53/q101/q103. */
  private val IVF_K = 16

  /** Deterministic IVF centroids: every m-th vector with m derived
    * from the corpus size (m = max(97, n div k)) so the centroid
    * table stays ~k rows at any corpus size — broadcastable, and
    * assignment stays O(n·k). Shared by q53/q101/q103. */
  private def ivfCents(s: org.apache.spark.sql.SparkSession, dir: String) =
    ivfCentsOf(corpus(s, dir))

  /** [[ivfCents]] over an explicit corpus (vec_id, embedding, nsq) —
    * q103 derives centroids from the FILTERED quantized corpus so the
    * coarse quantizer and the codes see the same rows (mirroring its
    * oracle, whose cents CTE reads the finite-filtered `q`). */
  private def ivfCentsOf(c: org.apache.spark.sql.DataFrame) = {
    val nTotal = c.agg(count(lit(1)).as("n_total"))
    c.crossJoin(broadcast(nTotal))
      .filter(col("vec_id") %
        greatest(lit(97L), floor(col("n_total") / IVF_K).cast("long")) === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("c_emb"), col("nsq").as("c_nsq"))
  }

  /** Cosine of a row's embedding to a candidate centroid (6dp — the
    * assignment tie-break scale mirrored by every oracle). */
  private def ivfCentSim = Num.fround(
    VectorFns.cosine(VectorFns.dotF("c_emb", "embedding"), col("c_nsq"), col("nsq")), 6)

  /** Best-centroid assignment as a map-side argmax AGGREGATE, not a
    * row_number window: the cross join emits each vec_id's k
    * candidates in place, so min_by over (-sim, cid) collapses them
    * with a PARTIAL stage before the exchange — the shuffle carries
    * one row per vector, not k (the q24 lesson, round 1). `extra`
    * columns (constant within the group) ride via first(). */
  private def ivfAssign(rows: org.apache.spark.sql.DataFrame,
      cents: org.apache.spark.sql.DataFrame,
      extra: Seq[String]): org.apache.spark.sql.DataFrame =
    rows.crossJoin(broadcast(cents))
      .withColumn("cent_sim", ivfCentSim)
      .groupBy(col("vec_id"))
      .agg(
        min_by(col("cid"), struct((-col("cent_sim")).as("negsim"), col("cid"))).as("cell"),
        extra.map(c => first(col(c)).as(c)): _*)

  // ---- ANN filter-and-refine: route, scan, re-rank ---------------
  // The IVF faces route each probe to its nearest cells and scan only
  // those; every quantized face (SQ, PQ, BQ) ranks candidates by a
  // cheap code distance and re-ranks a bounded shortlist with the
  // exact cosine. The exact top-20 and the hit flag are
  // [[Clustering.exactTop20]] and [[Clustering.flagHits]].

  /** IVF probe routing: each probe row's top-`nprobe` cells by 6dp
    * centroid cosine, one row per (probe_id, cell). A probe's k
    * candidate cells collapse in ONE aggregate (a sorted slice of the
    * collected list — bounded by IVF_K, never by the corpus). `carry`
    * names the probe payload columns (source -> output) that ride
    * along via first(). */
  private def routeProbes(probes: DataFrame, cents: DataFrame, nprobe: Int,
      carry: (String, String)*): DataFrame =
    probes.crossJoin(broadcast(cents))
      .withColumn("cent_sim", ivfCentSim)
      .groupBy(col("vec_id"))
      .agg(
        expr(s"slice(array_sort(collect_list(struct(-cent_sim AS negsim, cid))), 1, $nprobe)")
          .as("cells"),
        carry.map { case (from, to) => first(col(from)).as(to) }: _*)
      .select(col("vec_id").as("probe_id") +: carry.map(c => col(c._2)) :+
        explode(expr("transform(cells, x -> x.cid)")).as("cell"): _*)

  /** The probed cells of a cell-partitioned index as a LITERAL
    * partition filter: the probe->cell set is bounded (N_PROBES x
    * nprobe ids), so it is collected and pushed onto the scan — the
    * serving read never lists the other cells' directories
    * (IvfLayoutSpec pins the plan). [[scanCells]] still does the exact
    * probe<->cell matching. */
  private def probedCells(index: DataFrame, probeCells: DataFrame): DataFrame = {
    val ids = probeCells.select(col("cell")).distinct()
      .collect().map(_.getLong(0)).toSeq.sorted
    index.filter(col("cell").isInCollection(ids))
  }

  /** Candidates: every index row of a probed cell x the probes routed
    * to that cell (a broadcast hash join on cell — the index never
    * shuffles for serving), self excluded. */
  private def scanCells(index: DataFrame, probeCells: DataFrame): DataFrame =
    index.join(broadcast(probeCells), Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))

  /** Two-tier re-rank. Candidates rank per probe by the code distance
    * `dist` (ties by vec_id); at width `c` the top-c shortlist is
    * broadcast explicitly — it is bounded by construction (probes x c
    * rows), so the float payload fetch streams `payload` instead of
    * shuffling it on vec_id (pre-AQE stats can't see through the
    * window; PlanHygieneSpec enforces the shuffle-free shape) — then
    * scored with the exact 4dp cosine and cut to rank <= k. A sweep
    * applies the returned function once per width over ONE ranking. */
  private def rerank(cands: DataFrame, dist: String, payload: DataFrame,
      k: Int): Int => DataFrame = {
    val ranked = cands.withColumn("crank", row_number().over(
      Window.partitionBy(col("probe_id")).orderBy(col(dist), col("vec_id"))))
    val floats = payload.select(col("vec_id"), col("embedding"), col("nsq"))
    c => Clustering.topBySim(
      broadcast(ranked.filter(col("crank") <= c)).join(floats, Seq("vec_id"))
        .withColumn("sim", Clustering.probeSim), k)
  }

  // ---- Staged index artifacts (round-10 persist sweep) ------------
  // The ANN family's shared intermediates are the STORED index tables
  // a deployment writes once — bucketed corpora, cell assignments,
  // quantized codes. They used to be per-query `persist()`ed with no
  // unpersist, pinning executor memory for the JVM lifetime and
  // rebuilding once per query; staging through parquet (the q85/q122
  // convention) builds each once per (JVM, input dir), shares it
  // across every consumer, and keeps it off the heap.

  /** 8-hyperplane LSH-bucketed corpus (vec_id, embedding, nsq,
    * bucket) — the bucket index q38 (single-probe) and q60
    * (multi-probe) both serve from. */
  private def lsh8Corpus(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Staged.parquet(s, s"lsh8|$dir") {
      val proj = VectorFns.hyperplaneProjections(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), 0 until 8)
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
        .join(proj.select(col("vec_id"), col("nsq"),
          VectorFns.bucketFromProjections(0, 8).as("bucket")), Seq("vec_id"))
    }

  /** The ivf_assigned stage's BUILD plan — public so PlanSpec can
    * assert the partial_min_by argmax shape directly (the staged q53
    * read hides the build, the q85/hierBuild convention). */
  def ivfAssignedBuild(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    ivfAssign(corpus(s, dir), ivfCents(s, dir), Seq("label", "embedding", "nsq"))

  /** IVF cell-assignment table (vec_id, cell, label, embedding, nsq)
    * against the deterministic coarse quantizer — the index table
    * q53/q101/q112/q157 serve from and q163/q167 maintain. */
  private def ivfAssignedIdx(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Staged.parquet(s, s"ivf_assigned|$dir")(ivfAssignedBuild(s, dir))

  /** Int8-quantized corpus staged (vec_id, embedding, mins, maxs,
    * codes) — the stored SQ artifact q71/q72/q103 read. */
  private def quantizedIdx(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Staged.parquet(s, s"quantized|$dir")(quantized(s, dir))

  /** The lsh32 stage's BUILD plan (vec_id, embedding, nsq, b0, b1) —
    * public so PlanSpec can assert the map-side projection aggregate
    * directly (the staged q39 read hides the build). */
  def lsh32Build(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val proj = VectorFns.hyperplaneProjections(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), 0 until 32)
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"))
      .join(proj.select(col("vec_id"), col("nsq"),
        VectorFns.bucketFromProjections(0, 16).as("b0"),
        VectorFns.bucketFromProjections(16, 16).as("b1")), Seq("vec_id"))
  }

  val defs: Seq[QueryDef] = Seq(

    // Per-label vector stats: counts and mean L2 norm.
    QueryDef(
      "q36_embedding_label_stats",
      (s, dir) =>
        corpus(s, dir)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"),
            Num.fround(avg(sqrt(col("nsq"))), 4).as("avg_norm"))
          .orderBy(col("label")),
      Some(s"""WITH t AS (
                 SELECT label, sqrt(${VectorFns.normSqSql("embedding::DOUBLE[]")}) AS nrm
                 FROM ${VectorFns.embeddingsSql})
               SELECT label, count(*) AS n,
                 ${Num.froundSql("avg(nrm)", 4)} AS avg_norm
               FROM t GROUP BY label ORDER BY label"""),
    ),

    // Brute-force cosine top-k: the exact baseline. Probes (vec_id <
    // N_PROBES) are broadcast against the corpus; rank by rounded
    // similarity with vec_id tiebreak so the order is total and
    // engine-independent.
    QueryDef(
      "q37_cosine_topk_bruteforce",
      (s, dir) => {
        val c = corpus(s, dir)
        val probes = c.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        c.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), sim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq FROM c WHERE vec_id < $N_PROBES),
               sims AS (
                 SELECT probe_id, vec_id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM c, p WHERE vec_id <> probe_id)
               SELECT probe_id, vec_id, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
               FROM sims
               QUALIFY rank <= 5
               ORDER BY probe_id, rank"""),
    ),

    // LSH-bucketed ANN: candidates restricted to the probe's hyperplane
    // bucket, then exact cosine within the bucket.
    QueryDef(
      "q38_ann_lsh_bucketed",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        // The bucketed corpus (8 hyperplane projections × 64 dims per
        // row is the costly part) is the STAGED lsh8 index — both the
        // probe filter and the candidate join read the stored table,
        // shared with q60's multi-probe serve.
        val c = lsh8Corpus(s, dir)
        val probes = c.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("bucket"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        c.join(broadcast(probes), Seq("bucket"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("bucket"), sim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
                        ${VectorFns.lshBucketSql("(embedding::DOUBLE[])", 8)} AS bucket
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, bucket
                     FROM c WHERE vec_id < $N_PROBES),
               sims AS (
                 SELECT probe_id, vec_id, c.bucket AS bucket,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM c JOIN p ON c.bucket = p.bucket AND c.vec_id <> p.probe_id)
               SELECT probe_id, vec_id, bucket, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
               FROM sims
               QUALIFY rank <= 3
               ORDER BY probe_id, rank"""),
    ),

    // Embedding-cosine near-dup pairs, banded-LSH-blocked (the
    // embedding analog of q33): 32 hyperplanes as TWO independent
    // 16-bit band keys; candidate pairs agree on all 16 bits of at
    // least one band, ids are deduped across bands, then the exact
    // cosine verifies. Bucket math: 65,536 buckets per band, expected
    // occupancy n/2^16 per band under balanced hyperplanes — candidate
    // volume ≈ 2·n²/2^17 random collisions plus the true near-dup
    // clusters, vs n²/256 for the old single-8-bit-bucket scheme
    // (which was quadratic with a constant 256 denominator). Recall per
    // band for cosine ≥ 0.95 pairs is (1 - θ/π)^16 ≈ 0.19, ~0.35 with
    // both bands; raise bands for higher recall — the structure (not
    // the constants) is the 100 TB property.
    QueryDef(
      "q39_cosine_neardup_pairs",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        // Same staging rationale as q38's lsh8 index: both join sides
        // read it; 32 codegen'd plane projections, stored as the
        // two-band index table.
        val c = graft.operators.Staged.parquet(s, s"lsh32|$dir")(lsh32Build(s, dir))
        val banded = c.select(col("vec_id"), explode(array(
          concat(lit("0:"), col("b0").cast("string")),
          concat(lit("1:"), col("b1").cast("string")))).as("band"))
        val pairs = banded.select(col("vec_id").as("vec_a"), col("band"))
          .join(banded.select(col("vec_id").as("vec_b"), col("band")), Seq("band"))
          .filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b")).distinct()
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("emb_a", "emb_b"), col("nsq_a"), col("nsq_b")), 4)
        pairs
          .join(c.select(col("vec_id").as("vec_a"),
            col("embedding").as("emb_a"), col("nsq").as("nsq_a")), Seq("vec_a"))
          .join(c.select(col("vec_id").as("vec_b"),
            col("embedding").as("emb_b"), col("nsq").as("nsq_b")), Seq("vec_b"))
          .select(col("vec_a"), col("vec_b"), sim.as("sim"))
          .filter(col("sim") >= 0.6)
          .orderBy(col("vec_a"), col("vec_b"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
                        ${VectorFns.lshBucketRangeSql("(embedding::DOUBLE[])", 0, 16)} AS b0,
                        ${VectorFns.lshBucketRangeSql("(embedding::DOUBLE[])", 16, 16)} AS b1
                 FROM ${VectorFns.embeddingsSql}),
               banded AS (
                 SELECT vec_id, band FROM c,
                 UNNEST(['0:' || b0, '1:' || b1]) AS u(band)),
               pairs AS (
                 SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
                 FROM banded a JOIN banded b ON a.band = b.band AND a.vec_id < b.vec_id),
               sims AS (
                 SELECT p.vec_a, p.vec_b,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("ca.emb", "cb.emb"), "ca.nsq", "cb.nsq")}", 4)} AS sim
                 FROM pairs p
                 JOIN c ca ON ca.vec_id = p.vec_a
                 JOIN c cb ON cb.vec_id = p.vec_b)
               SELECT vec_a, vec_b, sim FROM sims
               WHERE sim >= 0.6
               ORDER BY vec_a, vec_b"""),
    ),

    // Multi-probe LSH ANN: like q38, but each probe searches its own
    // bucket PLUS the 8 hamming-1 neighbor buckets (one sign bit
    // flipped). The standard recall/latency dial for bit-LSH — ~9× the
    // candidates of single-probe (still ~9/256 of the corpus, bounded)
    // without building more band tables. Probe keys broadcast; the
    // corpus never shuffles for the join; a corpus vector lives in
    // exactly one bucket so the 9 keys per probe cannot duplicate a
    // candidate.
    QueryDef(
      "q60_ann_multiprobe",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        val c = lsh8Corpus(s, dir)
        val probes = c.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("bucket").as("home"))
        val probeKeys = probes.select(col("probe_id"), col("p_emb"), col("p_nsq"),
          explode(array(col("home") +:
            (0 until 8).map(j => col("home").bitwiseXOR(lit(1 << j))): _*)).as("bucket"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        c.join(broadcast(probeKeys), Seq("bucket"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), sim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 5)
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
                        ${VectorFns.lshBucketSql("(embedding::DOUBLE[])", 8)} AS bucket
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, bucket AS home
                     FROM c WHERE vec_id < $N_PROBES),
               pk AS (
                 SELECT probe_id, p_emb, p_nsq, bucket FROM p,
                 UNNEST([home, ${(0 until 8).map(j => s"xor(home, ${1 << j})").mkString(", ")}]) AS u(bucket)),
               sims AS (
                 SELECT probe_id, vec_id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM c JOIN pk ON c.bucket = pk.bucket AND c.vec_id <> pk.probe_id)
               SELECT probe_id, vec_id, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
               FROM sims
               QUALIFY rank <= 5
               ORDER BY probe_id, rank"""),
    ),

    // IVF-style ANN: a deterministic coarse quantizer with a FIXED
    // centroid count k — the sampling modulus is derived from the
    // corpus size (m = max(97, n div k)) so the centroid table stays
    // ~k rows no matter how big the corpus gets. That keeps assignment
    // O(n·k) with a broadcastable centroid table (an every-97th-row
    // sample would grow the centroid count linearly with n, making the
    // assignment O(n²/97) and the broadcast unbounded). Vectors are
    // assigned to their max-cosine centroid; search is restricted to
    // the probe's cell. The second scale path next to hyperplane LSH
    // (q38): at 100 TB the cell becomes the storage partition key, and
    // the scalar corpus-count aggregate feeding m is one cheap job.
    QueryDef(
      "q53_ann_ivf",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        // Assignment read from the staged ivf_assigned index (the
        // shared ivfAssign argmax aggregate — see its scaladoc for
        // the partial_min_by shape; tie-break matches the oracle:
        // sim DESC, cid ASC).
        val assigned = ivfAssignedIdx(s, dir)
          .select(col("vec_id"), col("embedding"), col("nsq"), col("cell"))
        val probes = assigned.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("cell"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        assigned.join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("cell"), sim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // 16) = 0),
               assigned AS (
                 SELECT vec_id, emb, nsq, cid AS cell FROM (
                   SELECT c.vec_id, c.emb, c.nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, cell
                     FROM assigned WHERE vec_id < $N_PROBES),
               sims AS (
                 SELECT probe_id, a.vec_id AS vec_id, a.cell AS cell,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "a.emb"), "p_nsq", "a.nsq")}", 4)} AS sim
                 FROM assigned a JOIN p ON a.cell = p.cell AND a.vec_id <> p.probe_id)
               SELECT probe_id, vec_id, cell, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
               FROM sims
               QUALIFY rank <= 3
               ORDER BY probe_id, rank"""),
    ),

    // Int8 scalar quantization — the 4× memory cut that makes a
    // billion-vector ANN index fit executor RAM: per-dimension global
    // [min, max] (one tiny aggregate, broadcast back as a 1-row dim
    // table), each float mapped to floor((x-mn)/(mx-mn)·255 + 0.5).
    // All arithmetic is IEEE double (floor-based rounding, no libm),
    // and the reconstruction MSE folds LEFT-TO-RIGHT in both engines
    // (Spark `aggregate` ≡ DuckDB `list_reduce`) so the differential
    // hash is exact. Output: codes serialized scalar + per-vector MSE.
    QueryDef(
      "q71_quantize_int8",
      (s, dir) => {
        quantizedIdx(s, dir)
          .withColumn("deq", expr(
            """transform(codes, (q, i) ->
                 mins[i] + cast(q AS double) / 255.0D * (maxs[i] - mins[i]))"""))
          .withColumn("mse", graft.functions.Num.fround(expr(
            """aggregate(zip_with(embedding, deq,
                 (x, d) -> (cast(x AS double) - d) * (cast(x AS double) - d)),
                 cast(0.0 AS double), (acc, v) -> acc + v) / cast(size(embedding) AS double)"""), 6))
          .select(col("vec_id"),
            array_join(expr("transform(codes, q -> cast(q AS string))"), "|").as("codes"),
            col("mse"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH $quantizedSqlCtes
               SELECT vec_id, array_to_string(codes, '|') AS codes,
                 ${graft.functions.Num.froundSql(
          """list_reduce([(embedding[i]::DOUBLE - (mins[i] + codes[i]::DOUBLE / 255.0 * (maxs[i] - mins[i])))
                    * (embedding[i]::DOUBLE - (mins[i] + codes[i]::DOUBLE / 255.0 * (maxs[i] - mins[i])))
                    for i in generate_series(1, 64)], (acc, v) -> acc + v) / 64.0""", 6)} AS mse
               FROM q
               ORDER BY vec_id"""),
    ),

    // ANN over the int8 codes (the q71 payoff): candidate generation
    // scans 64-BYTE code rows with pure-integer squared-L2 (exact in
    // both engines — no float in the selective stage), keeps top-10
    // per probe, then re-ranks only those 10 with the exact float
    // cosine. At scale the candidate scan touches 4× less memory than
    // the float corpus and the expensive kernel runs on 10 rows per
    // probe instead of the corpus — the classic IVF/SQ serving split.
    QueryDef(
      "q72_ann_quantized",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        graft.functions.SqDistI.register(s)
        // Codes + payload read from the staged SQ index; nsq is the
        // same codegen'd normSqF kernel corpus() computes.
        val qz = quantizedIdx(s, dir)
          .select(col("vec_id"), col("embedding"), col("codes"),
            VectorFns.normSqF("embedding").as("nsq"))
        val probes = qz.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("codes").as("p_codes"),
            col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val cands = qz.select(col("vec_id"), col("codes"))
          .crossJoin(broadcast(probes))
          .filter(col("vec_id") =!= col("probe_id"))
          // codegen'd exact integer kernel — value-identical to the
          // HOF fold (codes are 0..255; see SqDistI), DuckDB mirror
          // unchanged
          .withColumn("adist",
            graft.functions.SqDistI.distCol(col("codes"), col("p_codes")))
        rerank(cands, "adist", qz, k = 3)(10)
          .select(col("probe_id"), col("rank"), col("vec_id"), col("adist"), col("sim"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH $quantizedSqlCtes,
               nz AS (
                 SELECT q.vec_id, q.embedding, q.codes,
                   ${VectorFns.normSqSql("q.embedding::DOUBLE[]")} AS nsq
                 FROM q),
               p AS (
                 SELECT vec_id AS probe_id, codes AS p_codes,
                   embedding AS p_emb, nsq AS p_nsq
                 FROM nz WHERE vec_id < $N_PROBES),
               cand AS (
                 SELECT p.probe_id, nz.vec_id, nz.embedding, nz.nsq, p.p_emb, p.p_nsq,
                   list_reduce([(nz.codes[i] - p.p_codes[i]) * (nz.codes[i] - p.p_codes[i])
                     for i in generate_series(1, 64)], (acc, v) -> acc + v)::BIGINT AS adist
                 FROM nz CROSS JOIN p
                 WHERE nz.vec_id <> p.probe_id
                 QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY adist, nz.vec_id) <= 10),
               rr AS (
                 SELECT probe_id, vec_id, adist,
                   ${Num.froundSql(
          s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "embedding"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM cand)
               SELECT probe_id, row_number() OVER
                   (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank,
                 vec_id, adist, sim
               FROM rr
               QUALIFY rank <= 3
               ORDER BY probe_id, rank"""),
    ),

    // IVF multi-probe (nprobe = 2) — the recall knob on q53: a true
    // neighbor that fell just across a Voronoi boundary is invisible
    // to a single-cell search, so each probe searches its TWO
    // nearest cells. Cost model: candidates scale linearly with
    // nprobe (cells are disjoint — no dedup needed), recall climbs
    // toward brute-force; the probe's cell ranking is the same
    // broadcast-centroid cross join as assignment, collapsed by ONE
    // aggregate per probe (sorted top-2 slice of the collected
    // 16-element candidate list — bounded by k, never by corpus).
    QueryDef(
      "q101_ann_ivf_multiprobe",
      (s, dir) => {
        val NPROBE = 2
        val c = corpus(s, dir)
        val cents = ivfCents(s, dir)
        val assigned = ivfAssignedIdx(s, dir)
          .select(col("vec_id"), col("embedding"), col("nsq"), col("cell"))
        val probeCells = routeProbes(c.filter(col("vec_id") < N_PROBES), cents, NPROBE,
          "embedding" -> "p_emb", "nsq" -> "p_nsq")
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        scanCells(assigned, probeCells)
          .select(col("probe_id"), col("vec_id"), col("cell"), Clustering.probeSim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= 3)
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // 16) = 0),
               assigned AS (
                 SELECT vec_id, emb, nsq, cid AS cell FROM (
                   SELECT c.vec_id, c.emb, c.nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               pc AS (
                 SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, cid AS cell FROM (
                   SELECT c.vec_id, c.emb, c.nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents
                   WHERE c.vec_id < $N_PROBES)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) <= 2),
               sims AS (
                 SELECT probe_id, a.vec_id AS vec_id, a.cell AS cell,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "a.emb"), "p_nsq", "a.nsq")}", 4)} AS sim
                 FROM assigned a JOIN pc ON a.cell = pc.cell AND a.vec_id <> pc.probe_id)
               SELECT probe_id, vec_id, cell, sim,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
               FROM sims
               QUALIFY rank <= 3
               ORDER BY probe_id, rank"""),
    ),

    // IVF × SQ serving — the real FAISS-style split, composed from
    // q53's coarse quantizer and q71's int8 codes (round-4 verdict
    // #5: q72's candidate scan was a full corpus scan per probe; here
    // candidates come only from the probe's nprobe=2 IVF cells).
    // Serving reads three tiers, each strictly cheaper than the last:
    // (1) broadcast centroid table ranks cells per probe, (2) the
    // probe's cells are scanned with pure-integer squared-L2 over
    // 64-BYTE code rows (cell-restricted via a broadcast hash join on
    // cell — ~nprobe/k of the corpus, 4× less memory per row), (3)
    // only the top-10 integer candidates pay the exact float cosine.
    // At 100 TB the index table is storage-partitioned by cell, so
    // tier 2 is a partition-pruned scan.
    QueryDef(
      "q103_ann_ivf_sq",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        graft.functions.SqDistI.register(s)
        val NPROBE = 2
        // The serving INDEX: one row per vector with its IVF cell,
        // int8 codes, and the float payload — the q53 argmax
        // assignment over the quantized corpus.
        // The index build AND the probe branch both read the staged
        // SQ artifact — the per-dim stats aggregate + code transform
        // ran once at stage-build time, shared with q71/q72.
        val qz = quantizedIdx(s, dir)
          .withColumn("nsq", VectorFns.normSqF("embedding"))
          .select(col("vec_id"), col("embedding"), col("nsq"), col("codes"))
        // Centroids from the SAME finite-filtered corpus as the codes
        // (the oracle's cents CTE reads the filtered `q`).
        val cents = ivfCentsOf(qz)
        // The serving index is STAGED STORAGE-PARTITIONED BY CELL —
        // the layout a deployment writes once so that every probe's
        // nprobe cells become a partition-pruned scan (directories
        // selected at file-listing time), not a full-index read.
        // IvfLayoutSpec plan-asserts the PartitionFilters.
        val index = graft.operators.Staged.partitionedParquet(
          s, s"ivfsq_idx|$dir", "cell") {
          ivfAssign(qz, cents, Seq("codes", "embedding", "nsq"))
        }
        val probeCells = routeProbes(qz.filter(col("vec_id") < N_PROBES), cents, NPROBE,
          "codes" -> "p_codes", "embedding" -> "p_emb", "nsq" -> "p_nsq")
        val cellIndex = probedCells(index, probeCells)
        val cands = scanCells(cellIndex.select(col("vec_id"), col("cell"), col("codes")),
            probeCells)
          .withColumn("adist",
            graft.functions.SqDistI.distCol(col("codes"), col("p_codes")))
        rerank(cands, "adist", cellIndex, k = 3)(10)
          .select(col("probe_id"), col("rank"), col("vec_id"), col("cell"),
            col("adist"), col("sim"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH $quantizedSqlCtes,
               nz AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb, codes,
                   ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM q),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM nz
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM nz) // $IVF_K) = 0),
               assigned AS (
                 SELECT vec_id, emb, nsq, codes, cid AS cell FROM (
                   SELECT nz.vec_id, nz.emb, nz.nsq, nz.codes, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM nz CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               pc AS (
                 SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq,
                        codes AS p_codes, cid AS cell FROM (
                   SELECT nz.vec_id, nz.emb, nz.nsq, nz.codes, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM nz CROSS JOIN cents
                   WHERE nz.vec_id < $N_PROBES)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) <= 2),
               cand AS (
                 SELECT pc.probe_id, a.vec_id, a.cell, a.emb, a.nsq, pc.p_emb, pc.p_nsq,
                   list_reduce([(a.codes[i] - pc.p_codes[i]) * (a.codes[i] - pc.p_codes[i])
                     for i in generate_series(1, 64)], (acc, v) -> acc + v)::BIGINT AS adist
                 FROM assigned a JOIN pc ON a.cell = pc.cell AND a.vec_id <> pc.probe_id
                 QUALIFY row_number() OVER (PARTITION BY pc.probe_id ORDER BY adist, a.vec_id) <= 10),
               rr AS (
                 SELECT probe_id, vec_id, cell, adist,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM cand)
               SELECT probe_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank,
                 vec_id, cell, adist, sim
               FROM rr
               QUALIFY rank <= 3
               ORDER BY probe_id, rank"""),
    ),

    // ANN recall VERDICT — the regression tripwire the family lacked:
    // q53's IVF hash-matches its own deterministic output, so an
    // implementation change that silently tanks recall would still
    // pass CORRECTNESS (both engines mirror the same weaker search).
    // Here each engine computes recall@10 of its OWN IVF search
    // against its OWN exact brute-force top-10, corpus-level: the
    // recall and candidate-fraction values hash-match across engines
    // (ratios of exact integers — no float-sum ordering in the
    // hashed columns), and the two verdict columns are LITERAL 1 on
    // the oracle side (the q91/q92 hard-guarantee pattern) — a
    // regression flips the Spark side to 0 and the gate goes red.
    // Bands, calibrated to the near-random synthetic embeddings
    // (measured mean recall .275–.375 across SFs; candidate fraction
    // .17 at the small SFs where the 97-modulus yields ~6 cells,
    // .063 at sf0.1's 16 cells → lift 2.2–4.4×): floor mean recall
    // ≥ 0.15, and ≥ 2× the fraction of the corpus the IVF actually
    // scans — the LIFT that proves cell assignment concentrates true
    // neighbors instead of sampling them (broken assignment → lift
    // ≈ 1 → red).
    QueryDef(
      "q112_ann_recall",
      (s, dir) => {
        val K = 10
        // corpus() is a narrow map over the parquet scan — cheap to
        // recompute per consumer; no heap pin.
        val c = corpus(s, dir)
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        // Exact ground truth: q37's brute-force shape, top-10.
        val probes = c.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val exact = c.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), sim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
        // Approximate side: q53's cell-restricted IVF (the staged
        // ivf_assigned index), top-10.
        val assigned = ivfAssignedIdx(s, dir)
          .select(col("vec_id"), col("embedding"), col("nsq"), col("cell"))
        val ivfProbes = assigned.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("cell"))
        val cand = assigned.join(broadcast(ivfProbes), Seq("cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), sim.as("sim"))
        val approx = cand
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
        val totalHits = approx.select(col("probe_id"), col("vec_id"))
          .join(broadcast(exact.select(col("probe_id"), col("vec_id"))),
            Seq("probe_id", "vec_id"))
          .agg(count(lit(1)).as("total_hits"))
        val totalCand = cand.agg(count(lit(1)).as("total_cand"))
        val nRows = c.agg(count(lit(1)).as("n"))
        val meanRecall = col("total_hits").cast("double") / lit(K.toDouble * N_PROBES)
        val meanFrac = col("total_cand").cast("double") /
          (lit(N_PROBES.toDouble) * (col("n") - 1).cast("double"))
        totalHits.crossJoin(totalCand).crossJoin(nRows)
          .select(
            lit(N_PROBES.toLong).as("n_probes"),
            col("total_hits"), col("total_cand"),
            meanRecall.as("mean_recall_at_10"),
            meanFrac.as("mean_cand_frac"),
            (meanRecall >= lit(0.15)).cast("int").as("floor_ok"),
            (meanRecall >= lit(2.0) * meanFrac).cast("int").as("lift_ok"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq FROM c
                     WHERE vec_id < $N_PROBES),
               esims AS (
                 SELECT probe_id, vec_id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM c, p WHERE vec_id <> probe_id),
               exact AS (
                 SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
                 FROM esims QUALIFY rank <= 10),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // $IVF_K) = 0),
               assigned AS (
                 SELECT vec_id, emb, nsq, cid AS cell FROM (
                   SELECT c.vec_id, c.emb, c.nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               ip AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, cell
                      FROM assigned WHERE vec_id < $N_PROBES),
               cand AS (
                 SELECT probe_id, a.vec_id AS vec_id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "a.emb"), "p_nsq", "a.nsq")}", 4)} AS sim
                 FROM assigned a JOIN ip ON a.cell = ip.cell AND a.vec_id <> ip.probe_id),
               approx AS (
                 SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
                 FROM cand QUALIFY rank <= 10),
               th AS (SELECT count(*) AS total_hits
                      FROM exact e JOIN approx a
                        ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id),
               tc AS (SELECT count(*) AS total_cand FROM cand),
               nn AS (SELECT count(*) AS n FROM c)
               SELECT $N_PROBES::BIGINT AS n_probes,
                 total_hits::BIGINT AS total_hits, total_cand::BIGINT AS total_cand,
                 total_hits::DOUBLE / (${10 * N_PROBES}::DOUBLE) AS mean_recall_at_10,
                 total_cand::DOUBLE / ($N_PROBES::DOUBLE * (n - 1)) AS mean_cand_frac,
                 1 AS floor_ok,
                 1 AS lift_ok
               FROM th, tc, nn"""),
    ),

    // Recall verdict for the LSH path — q112's tripwire applied to the
    // OTHER scale family (q38/q60 hyperplane banding; q112 covers
    // IVF). The approximate side is the PRODUCTION multi-band search
    // (the standard LSH recall knob the single-band q38/q60 teaching
    // shapes omit): two independent 8-bit bands, each multi-probed
    // home + 8 hamming-1 buckets, candidates unioned and deduped on
    // ids. This tripwire is what caught the round-7 hyperplane bug:
    // with the old correlated weights (plane j+1 a constant mod-shift
    // of plane j) lift measured ≈ 1.0 at sf0.1 — bucketing no better
    // than scanning random vectors; md5-independent planes fix it.
    // A broken bucketing (sign flip, band permutation, xor
    // off-by-one) collapses lift back to ~1 and turns the row red;
    // both engines compute recall vs their OWN exact top-10 from
    // identical 4dp-rounded sims, so the exact-integer columns
    // hash-match and the verdicts are literal 1s on the oracle side.
    // Gates are active for n >= 1000: at the 500-vector small-SF
    // corpora a 2^8 bucket holds ~2 vectors and an 8-probe recall
    // estimate is single-digit-hit noise — the gate would measure
    // sampling variance, not index quality (the q91/q92
    // small-regime literal-pass pattern, with n in the output so the
    // regime is visible).
    QueryDef(
      "q118_lsh_recall",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        val K = 10
        val c = corpus(s, dir)
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        val probes = c.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val exact = c.join(broadcast(probes), col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), sim.as("sim"))
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
        // Approximate side: 2 independent 8-bit bands (planes 0-7 and
        // 8-15), each multi-probed home + 8 hamming-1, unioned and
        // deduped on ids (sim is deterministic per pair, so distinct
        // on the triple IS the id-dedup).
        val bucketed = graft.operators.Staged.parquet(s, s"lsh_bands16|$dir") {
          val proj = VectorFns.hyperplaneProjections(
            Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), 0 until 16)
          Tables.embeddings(s, dir)
            .select(col("vec_id"), col("embedding"))
            .join(proj.select(col("vec_id"), col("nsq"),
              VectorFns.bucketFromProjections(0, 8).as("b0"),
              VectorFns.bucketFromProjections(8, 8).as("b1")), Seq("vec_id"))
            .withColumn("bk", explode(array(
              struct(lit(0).as("band"), col("b0").as("bucket")),
              struct(lit(1).as("band"), col("b1").as("bucket")))))
            .select(col("vec_id"), col("embedding"), col("nsq"),
              col("bk.band").as("band"), col("bk.bucket").as("bucket"))
        }
        val lshProbes = bucketed.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("band"), col("bucket").as("home"))
        val probeKeys = lshProbes.select(col("probe_id"), col("p_emb"), col("p_nsq"),
          col("band"),
          explode(array(col("home") +:
            (0 until 8).map(j => col("home").bitwiseXOR(lit(1 << j))): _*)).as("bucket"))
        val cand = bucketed.join(broadcast(probeKeys), Seq("band", "bucket"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), sim.as("sim"))
          .distinct()
        val approx = cand
          .withColumn("rank", row_number().over(w))
          .filter(col("rank") <= K)
        val totalHits = approx.select(col("probe_id"), col("vec_id"))
          .join(broadcast(exact.select(col("probe_id"), col("vec_id"))),
            Seq("probe_id", "vec_id"))
          .agg(count(lit(1)).as("total_hits"))
        val totalCand = cand.agg(count(lit(1)).as("total_cand"))
        val nRows = c.agg(count(lit(1)).as("n"))
        val meanRecall = col("total_hits").cast("double") / lit(K.toDouble * N_PROBES)
        val meanFrac = col("total_cand").cast("double") /
          (lit(N_PROBES.toDouble) * (col("n") - 1).cast("double"))
        totalHits.crossJoin(totalCand).crossJoin(nRows)
          .select(
            lit(N_PROBES.toLong).as("n_probes"),
            col("total_hits"), col("total_cand"),
            col("n").cast("long").as("n_corpus"),
            meanRecall.as("mean_recall_at_10"),
            meanFrac.as("mean_cand_frac"),
            when(col("n") < 1000, lit(1))
              .otherwise((meanRecall >= lit(0.12)).cast("int")).as("floor_ok"),
            when(col("n") < 1000, lit(1))
              .otherwise((meanRecall >= lit(2.0) * meanFrac).cast("int")).as("lift_ok"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
                        ${VectorFns.lshBucketRangeSql("(embedding::DOUBLE[])", 0, 8)} AS b0,
                        ${VectorFns.lshBucketRangeSql("(embedding::DOUBLE[])", 8, 8)} AS b1
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq FROM c
                     WHERE vec_id < $N_PROBES),
               esims AS (
                 SELECT probe_id, vec_id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM c, p WHERE vec_id <> probe_id),
               exact AS (
                 SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
                 FROM esims QUALIFY rank <= 10),
               cb AS (
                 SELECT vec_id, emb, nsq, 0 AS band, b0 AS bucket FROM c
                 UNION ALL
                 SELECT vec_id, emb, nsq, 1 AS band, b1 AS bucket FROM c),
               lp AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, band, bucket AS home
                      FROM cb WHERE vec_id < $N_PROBES),
               pk AS (
                 SELECT probe_id, p_emb, p_nsq, band, bucket FROM lp,
                 UNNEST([home, ${(0 until 8).map(j => s"xor(home, ${1 << j})").mkString(", ")}]) AS u(bucket)),
               cand AS (
                 SELECT DISTINCT probe_id, cb.vec_id AS vec_id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
                 FROM cb JOIN pk ON cb.band = pk.band AND cb.bucket = pk.bucket
                   AND cb.vec_id <> pk.probe_id),
               approx AS (
                 SELECT probe_id, vec_id,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) AS rank
                 FROM cand QUALIFY rank <= 10),
               th AS (SELECT count(*) AS total_hits
                      FROM exact e JOIN approx a
                        ON a.probe_id = e.probe_id AND a.vec_id = e.vec_id),
               tc AS (SELECT count(*) AS total_cand FROM cand),
               nn AS (SELECT count(*) AS n FROM c)
               SELECT $N_PROBES::BIGINT AS n_probes,
                 total_hits::BIGINT AS total_hits, total_cand::BIGINT AS total_cand,
                 n::BIGINT AS n_corpus,
                 total_hits::DOUBLE / (${10 * N_PROBES}::DOUBLE) AS mean_recall_at_10,
                 total_cand::DOUBLE / ($N_PROBES::DOUBLE * (n - 1)) AS mean_cand_frac,
                 1 AS floor_ok,
                 1 AS lift_ok
               FROM th, tc, nn"""),
    ),

    // Hybrid retrieval with Reciprocal Rank Fusion (Cormack et al.,
    // SIGIR 2009 — the fusion every production RAG stack runs):
    // a lexical ranking (the q114 BM25 scorer, same terms, same IEEE
    // association) and a dense ranking (exact cosine vs a probe
    // embedding, the q37 kernel) are each cut to their top-K=50, and
    // fused by score(d) = Σ_lists 1/(60 + rank_list(d)) — rank-based,
    // so the two incomparable score scales never mix. doc_id and
    // vec_id are the same corpus key, which is exactly the lakehouse
    // layout this engine assumes (text and embedding tables share the
    // document key).
    //
    // Scale shape: each ranking is a TakeOrderedAndProject (per-
    // partition top-k, no corpus exchange, no corpus window); ranks
    // come from a row_number over the ALREADY-CUT K=50 rows, so the
    // only Window in the plan sees a constant-size input at any
    // corpus scale. The fusion is a union of 2K tiny rows +
    // HashAggregate — no join at all (the full-outer join RRF is
    // usually written as would plan a SortMergeJoin; the union-
    // groupBy form is shuffle-trivial and generalizes to any number
    // of rankers).
    //
    // Determinism: both ranked cuts order by a 4dp-ROUNDED score with
    // id tiebreak (identical cut cross-engine, the q114/q37
    // argument); RRF itself is 1.0/(rank+60) — one correctly-rounded
    // IEEE division on exact integers plus one add, bit-identical in
    // both engines; absent ranks coalesce to 0, never NULL.
    QueryDef(
      "q120_hybrid_rrf",
      (s, dir) => {
        val terms = Seq("spark", "join", "dup")
        val (k1, b) = (1.2, 0.75)
        val K = 50
        val perDoc = Tables.documents(s, dir)
          .select(col("doc_id") +: size(split(col("text"), " ")).as("dl") +:
            terms.map(w => expr(s"size(filter(split(text, ' '), t -> t = '$w'))")
              .cast("double").as(s"tf_$w")): _*)
        val statCols = avg(col("dl").cast("double")).as("avgdl") +:
          terms.map(w => sum(when(col(s"tf_$w") > 0, 1L).otherwise(0L))
            .cast("double").as(s"df_$w"))
        val stats = perDoc.agg(count(lit(1)).cast("double").as("n"), statCols: _*)
        val bm25 = terms.map { w =>
          val idf = log((col("n") - col(s"df_$w") + 0.5) / (col(s"df_$w") + 0.5) + 1.0)
          idf * col(s"tf_$w") * (k1 + 1.0) /
            (col(s"tf_$w") + (col("dl").cast("double") / col("avgdl") * b + (1.0 - b)) * k1)
        }.reduce(_ + _)
        val lexTop = perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id").as("id"), Num.fround(bm25, 4).as("s"))
          .orderBy(col("s").desc, col("id")).limit(K)
        val c = corpus(s, dir)
        val probe = c.filter(col("vec_id") === 0)
          .select(col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val denseTop = c.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
          .select(col("vec_id").as("id"), sim.as("s"))
          .orderBy(col("s").desc, col("id")).limit(K)
        val wRank = Window.orderBy(col("s").desc, col("id"))
        val lex = lexTop.select(col("id"),
          row_number().over(wRank).as("rank"), lit("lex").as("side"))
        val dense = denseTop.select(col("id"),
          row_number().over(wRank).as("rank"), lit("dense").as("side"))
        lex.unionByName(dense)
          .groupBy(col("id"))
          .agg(
            coalesce(max(when(col("side") === "lex", col("rank"))), lit(0))
              .cast("long").as("rank_lex"),
            coalesce(max(when(col("side") === "dense", col("rank"))), lit(0))
              .cast("long").as("rank_dense"),
            Num.fround(sum(lit(1.0) / (col("rank") + 60)), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("id"))
          .limit(20)
      },
      Some {
        val terms = Seq("spark", "join", "dup")
        val tfCols = terms.map(w =>
          s"len(list_filter(string_split(text, ' '), t -> t = '$w'))::DOUBLE AS tf_$w")
          .mkString(", ")
        val dfCols = terms.map(w =>
          s"sum(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_$w")
          .mkString(", ")
        val scoreSql = terms.map(w =>
          s"""ln((n - df_$w + 0.5) / (df_$w + 0.5) + 1) * tf_$w * 2.2
              / (tf_$w + (dl / avgdl * 0.75 + 0.25) * 1.2)""").mkString(" + ")
        s"""WITH per_doc AS (
                 SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl, $tfCols
                 FROM documents),
               stats AS (
                 SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfCols FROM per_doc),
               lex_top AS (
                 SELECT doc_id AS id, ${Num.froundSql(scoreSql, 4)} AS s
                 FROM per_doc, stats
                 ORDER BY s DESC, id LIMIT 50),
               lex AS (
                 SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank,
                   'lex' AS side
                 FROM lex_top),
               c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT emb AS p_emb, nsq AS p_nsq FROM c WHERE vec_id = 0),
               dense_top AS (
                 SELECT vec_id AS id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS s
                 FROM c, p WHERE vec_id <> 0
                 ORDER BY s DESC, id LIMIT 50),
               dense AS (
                 SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank,
                   'dense' AS side
                 FROM dense_top),
               u AS (SELECT * FROM lex UNION ALL SELECT * FROM dense)
               SELECT id,
                 coalesce(max(CASE WHEN side = 'lex' THEN rank END), 0)::BIGINT AS rank_lex,
                 coalesce(max(CASE WHEN side = 'dense' THEN rank END), 0)::BIGINT AS rank_dense,
                 ${Num.froundSql("sum(1.0 / (rank + 60))", 6)} AS rrf
               FROM u GROUP BY id
               ORDER BY rrf DESC, id LIMIT 20"""
      },
    ),

    // N-ranker RRF — q120's union-groupBy fusion generalized to
    // THREE rankers (lexical BM25, dense cosine, and a metadata
    // prior over n_chars — the static quality signal a curation
    // stack fuses alongside relevance), proving the no-join claim
    // generalizes: adding a ranker adds one TakeOrderedAndProject
    // cut and K more union rows, never a join. The groupBy's
    // coalesce(…, 0) is the left-outer semantics — a document on any
    // subset of the three lists fuses correctly with absent ranks
    // contributing nothing (rank column 0, no 1/(60+r) term).
    //
    // Determinism: each cut orders by (4dp-rounded score | exact
    // integer n_chars) with id tiebreak; fusion math is identical to
    // q120's bit-exact form.
    QueryDef(
      "q156_hybrid_rrf3",
      (s, dir) => {
        val terms = Seq("spark", "join", "dup")
        val (k1, b) = (1.2, 0.75)
        val K = 50
        val perDoc = Tables.documents(s, dir)
          .select(col("doc_id") +: size(split(col("text"), " ")).as("dl") +:
            terms.map(w => expr(s"size(filter(split(text, ' '), t -> t = '$w'))")
              .cast("double").as(s"tf_$w")): _*)
        val statCols = avg(col("dl").cast("double")).as("avgdl") +:
          terms.map(w => sum(when(col(s"tf_$w") > 0, 1L).otherwise(0L))
            .cast("double").as(s"df_$w"))
        val stats = perDoc.agg(count(lit(1)).cast("double").as("n"), statCols: _*)
        val bm25 = terms.map { w =>
          val idf = log((col("n") - col(s"df_$w") + 0.5) / (col(s"df_$w") + 0.5) + 1.0)
          idf * col(s"tf_$w") * (k1 + 1.0) /
            (col(s"tf_$w") + (col("dl").cast("double") / col("avgdl") * b + (1.0 - b)) * k1)
        }.reduce(_ + _)
        val lexTop = perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id").as("id"), Num.fround(bm25, 4).as("s"))
          .orderBy(col("s").desc, col("id")).limit(K)
        val c = corpus(s, dir)
        val probe = c.filter(col("vec_id") === 0)
          .select(col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val denseTop = c.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
          .select(col("vec_id").as("id"), sim.cast("double").as("s"))
          .orderBy(col("s").desc, col("id")).limit(K)
        val priorTop = Tables.documents(s, dir)
          .select(col("doc_id").as("id"), col("n_chars").cast("double").as("s"))
          .orderBy(col("s").desc, col("id")).limit(K)
        val wRank = Window.orderBy(col("s").desc, col("id"))
        val sides = Seq("lex" -> lexTop, "dense" -> denseTop, "prior" -> priorTop)
          .map { case (nm, top) =>
            top.select(col("id"), row_number().over(wRank).as("rank"),
              lit(nm).as("side"))
          }
        sides.reduce(_ unionByName _)
          .groupBy(col("id"))
          .agg(
            coalesce(max(when(col("side") === "lex", col("rank"))), lit(0))
              .cast("long").as("rank_lex"),
            coalesce(max(when(col("side") === "dense", col("rank"))), lit(0))
              .cast("long").as("rank_dense"),
            coalesce(max(when(col("side") === "prior", col("rank"))), lit(0))
              .cast("long").as("rank_prior"),
            Num.fround(sum(lit(1.0) / (col("rank") + 60)), 6).as("rrf"))
          .orderBy(col("rrf").desc, col("id"))
          .limit(20)
      },
      Some {
        val terms = Seq("spark", "join", "dup")
        val tfCols = terms.map(w =>
          s"len(list_filter(string_split(text, ' '), t -> t = '$w'))::DOUBLE AS tf_$w")
          .mkString(", ")
        val dfCols = terms.map(w =>
          s"sum(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_$w")
          .mkString(", ")
        val scoreSql = terms.map(w =>
          s"""ln((n - df_$w + 0.5) / (df_$w + 0.5) + 1) * tf_$w * 2.2
              / (tf_$w + (dl / avgdl * 0.75 + 0.25) * 1.2)""").mkString(" + ")
        s"""WITH per_doc AS (
                 SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl, $tfCols
                 FROM documents),
               stats AS (
                 SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfCols FROM per_doc),
               lex_top AS (
                 SELECT doc_id AS id, ${Num.froundSql(scoreSql, 4)} AS s
                 FROM per_doc, stats
                 ORDER BY s DESC, id LIMIT 50),
               lex AS (
                 SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank,
                   'lex' AS side
                 FROM lex_top),
               c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT emb AS p_emb, nsq AS p_nsq FROM c WHERE vec_id = 0),
               dense_top AS (
                 SELECT vec_id AS id,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS s
                 FROM c, p WHERE vec_id <> 0
                 ORDER BY s DESC, id LIMIT 50),
               dense AS (
                 SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank,
                   'dense' AS side
                 FROM dense_top),
               prior_top AS (
                 SELECT doc_id AS id, n_chars::DOUBLE AS s FROM documents
                 ORDER BY s DESC, id LIMIT 50),
               prior AS (
                 SELECT id, row_number() OVER (ORDER BY s DESC, id) AS rank,
                   'prior' AS side
                 FROM prior_top),
               u AS (SELECT * FROM lex UNION ALL SELECT * FROM dense
                     UNION ALL SELECT * FROM prior)
               SELECT id,
                 coalesce(max(CASE WHEN side = 'lex' THEN rank END), 0)::BIGINT AS rank_lex,
                 coalesce(max(CASE WHEN side = 'dense' THEN rank END), 0)::BIGINT AS rank_dense,
                 coalesce(max(CASE WHEN side = 'prior' THEN rank END), 0)::BIGINT AS rank_prior,
                 ${Num.froundSql("sum(1.0 / (rank + 60))", 6)} AS rrf
               FROM u GROUP BY id
               ORDER BY rrf DESC, id LIMIT 20"""
      },
    ),

    // Johnson–Lindenstrauss random projection — the embedding
    // COMPRESSION axis the quantization family doesn't cover: q71/q72
    // shrink bits per dimension (64-dim stays 64-dim at int8), this
    // shrinks DIMENSIONS (64 → 16 via a Rademacher ±1 projection,
    // 4× fewer multiplies for every downstream distance) with the JL
    // distance-preservation guarantee as the measured verdict.
    // Signs are md5-derived per (output dim, input dim) — the q118
    // lesson baked in: independent pseudo-random rows, computable
    // bit-identically as Scala plan literals and in DuckDB SQL.
    //
    // Determinism: the per-pair distortion ratio is ONE libm sqrt of
    // an IEEE quotient whose operands are fixed-order sums (the
    // normSq/dot house pattern) — sqrt is correctly rounded, so the
    // ratio is bit-identical cross-engine and the e4-scaled integer
    // copy makes every aggregate exact (sums of longs, integer band
    // comparisons). mean/frac columns derive from those integers.
    // Verdicts (hard on the oracle side): mean ratio within
    // [0.85, 1.15] and ≥ 60% of pairs within ±30% — k=16 puts the
    // distortion sd near 0.18, so ~90% of pairs sit inside the band;
    // a sign-table bug (correlated rows, wrong indexing) collapses
    // both.
    //
    // Scale shape: pairs form by locality (vec_id div 2) in ONE
    // key-partitioned aggregate — no self-join; the projection is a
    // narrow map with the 16×64 sign table as plan literals (the
    // hyperplane-LSH shape), so the whole audit is scan → aggregate →
    // narrow map → 1-row rollup at any corpus size.
    QueryDef(
      "q129_jl_projection",
      (s, dir) => {
        val K = 16
        def signLit(j: Int): String = (0 until 64).map { i =>
          val md = java.security.MessageDigest.getInstance("MD5")
          val hex = md.digest(s"jl|$j|$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          if (Integer.parseInt(hex.substring(0, 1), 16) < 8) "1D" else "-1D"
        }.mkString("array(", ", ", ")")
        // Finite vectors only: a NaN/Inf coordinate makes the pair's
        // distortion ratio undefined (and the e4 integer copy
        // engine-divergent) — the audit is over encodable pairs.
        val pairs = Tables.embeddings(s, dir)
          .filter(VectorFns.finiteVec("embedding"))
          .select((col("vec_id") / 2).cast("long").as("g"), col("vec_id"), col("embedding"))
          .groupBy(col("g"))
          .agg(count(lit(1)).as("cnt"),
            expr("min_by(embedding, vec_id)").as("a"),
            expr("max_by(embedding, vec_id)").as("b"))
          .filter(col("cnt") === 2)
          .withColumn("d", expr("zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) - CAST(y AS DOUBLE))"))
          .withColumn("d_orig2", expr("aggregate(d, 0D, (acc, x) -> acc + x * x)"))
          .filter(col("d_orig2") > 0)
          .withColumn("proj", expr(
            (0 until K).map(j =>
              s"aggregate(sequence(0, 63), 0D, (acc, i) -> acc + element_at(d, i + 1) * element_at(${signLit(j)}, i + 1))")
              .mkString("array(", ", ", ")")))
          .withColumn("d_proj2", expr("aggregate(proj, 0D, (acc, p) -> acc + p * p)"))
          .withColumn("ratio_e4",
            floor(sqrt(col("d_proj2") / (lit(K.toDouble) * col("d_orig2"))) * 1e4 + 0.5)
              .cast("long"))
        pairs.agg(count(lit(1)).as("n_pairs"),
          sum(when(col("ratio_e4").between(7000L, 13000L), 1L).otherwise(0L)).as("n_within"),
          sum(col("ratio_e4")).as("sum_e4"))
          .select(col("n_pairs"), col("n_within"),
            Num.fround(col("sum_e4").cast("double") / col("n_pairs").cast("double") / 1e4, 4)
              .as("mean_ratio"),
            Num.fround(col("n_within").cast("double") / col("n_pairs").cast("double"), 4)
              .as("within_frac"),
            (col("sum_e4") >= col("n_pairs") * 8500L &&
              col("sum_e4") <= col("n_pairs") * 11500L).cast("int").as("mean_ok"),
            (col("n_within") * 10L >= col("n_pairs") * 6L).cast("int").as("within_ok"))
      },
      Some(s"""WITH pr AS (
                 SELECT vec_id // 2 AS g, count(*) AS cnt,
                   min_by(embedding, vec_id) AS a,
                   max_by(embedding, vec_id) AS b
                 FROM embeddings WHERE ${VectorFns.finiteVecSql("embedding")}
                 GROUP BY vec_id // 2),
               d AS (
                 SELECT g,
                   [a[i]::DOUBLE - b[i]::DOUBLE for i in generate_series(1, len(a))] AS d
                 FROM pr WHERE cnt = 2),
               m AS (
                 SELECT g, d, list_sum([x * x for x in d]) AS d_orig2,
                   [list_sum([d[i] * (CASE WHEN ('0x' || substr(md5('jl|' || j || '|' || (i - 1)), 1, 1))::INT < 8
                                      THEN 1 ELSE -1 END)
                              for i in generate_series(1, len(d))])
                    for j in generate_series(0, 15)] AS proj
                 FROM d WHERE list_sum([x * x for x in d]) > 0),
               r AS (
                 SELECT g,
                   floor(sqrt(list_sum([p * p for p in proj]) / (16.0 * d_orig2)) * 10000 + 0.5)::BIGINT AS ratio_e4
                 FROM m)
               SELECT count(*)::BIGINT AS n_pairs,
                 sum(CASE WHEN ratio_e4 BETWEEN 7000 AND 13000 THEN 1 ELSE 0 END)::BIGINT AS n_within,
                 ${Num.froundSql("sum(ratio_e4)::DOUBLE / count(*)::DOUBLE / 10000", 4)} AS mean_ratio,
                 ${Num.froundSql("sum(CASE WHEN ratio_e4 BETWEEN 7000 AND 13000 THEN 1 ELSE 0 END)::DOUBLE / count(*)::DOUBLE", 4)} AS within_frac,
                 1 AS mean_ok,
                 1 AS within_ok
               FROM r"""),
    ),

    // PCA from exact integer moments — the LEARNED dimensionality-
    // reduction axis (q129's JL projection is data-independent; this
    // finds the corpus's own dominant direction). One pass computes
    // per-dim sums and the d(d+1)/2 upper-triangle cross-products on
    // e3-quantized integers (operators/Pca; the q123 moments stance:
    // exact integers, map-side partials, d²-bounded traffic), the
    // driver solves the d×d eigenproblem by 50 power-iteration rounds
    // (bounded state: 2080 moment rows + a 64-vector), and the output
    // row carries md5 digests of BOTH moment tables in key order —
    // the distributed computation hash-matches cross-engine — plus
    // self-certifying eigen verdicts (oracle literal 1s): the
    // power-iteration residual ‖Cv−λv‖/λ ≤ 1e-6 (a wrong eigenpair
    // fails its own residual) and λ ≥ trace/d (λmax can never
    // undercut the eigenvalue mean; catches sign/NaN collapses).
    QueryDef(
      "q132_pca_moments",
      (s, dir) => {
        import graft.operators.Pca
        // e3 moment quantization is undefined on non-finite
        // coordinates (finiteVec scaladoc) — moments over the
        // encodable corpus, mirrored in the oracle's e CTE.
        val e = Pca.quantize(Tables.embeddings(s, dir)
          .filter(VectorFns.finiteVec("embedding"))).persist()
        val n = e.count()
        // d- and d²-bounded moment tables, consumed by both the
        // driver-side eigen solve (collect) and the digest plan —
        // staged so neither consumer pins a cache past the query
        val sums = graft.operators.Staged.parquet(s, s"q132sums|$dir")(Pca.dimSums(e))
        val prods = graft.operators.Staged.parquet(s, s"q132prods|$dir")(Pca.crossProducts(e))
        val sArr = sums.collect().sortBy(_.getInt(0))
          .map(r => BigDecimal(r.getDecimal(1)))
        val pMap = prods.collect()
          .map(r => (r.getInt(0), r.getInt(1)) -> BigDecimal(r.getDecimal(2))).toMap
        val cov = Pca.covFromMoments(n, sArr, pMap)
        val (lambda, _, resid) = Pca.powerIterate(cov)
        val trace = (0 until cov.length).map(i => cov(i)(i)).sum
        val sumDig = Pca.orderedDigest(sums, Seq("i"), "s")
        val prodDig = Pca.orderedDigest(prods, Seq("i", "j"), "p")
          .withColumnRenamed("digest", "prod_digest")
        e.unpersist()
        sumDig.withColumnRenamed("digest", "sum_digest")
          .crossJoin(prodDig)
          .select(lit(n).as("n"), col("sum_digest"), col("prod_digest"),
            lit(if (resid <= 1e-6) 1 else 0).as("resid_ok"),
            lit(if (lambda >= trace / cov.length.toDouble && lambda > 0) 1 else 0)
              .as("eig_ok"))
      },
      Some(s"""WITH e AS (
                SELECT [floor(embedding[i]::DOUBLE * 1000 + 0.5)::BIGINT
                        for i in generate_series(1, 64)] AS e
                FROM embeddings WHERE ${VectorFns.finiteVecSql("embedding")}),
              s AS (
                SELECT i, sum(e[i]) AS s
                FROM e, generate_series(1, 64) AS g(i) GROUP BY i),
              p AS (
                SELECT i, j, sum(e[i] * e[j]) AS p
                FROM e, generate_series(1, 64) AS g1(i), generate_series(1, 64) AS g2(j)
                WHERE j >= i GROUP BY i, j),
              nn AS (SELECT count(*)::BIGINT AS n FROM e)
              SELECT n,
                (SELECT md5(string_agg(s::VARCHAR, ',' ORDER BY i)) FROM s) AS sum_digest,
                (SELECT md5(string_agg(p::VARCHAR, ',' ORDER BY i, j)) FROM p) AS prod_digest,
                1 AS resid_ok,
                1 AS eig_ok
              FROM nn"""),
    ),

    // EMBEDDING DRIFT monitor — the data-quality check a production
    // pipeline runs between corpus snapshots (did the embedding
    // distribution move? a model/version change, a scraper bug, a
    // domain shift): per-dimension two-sample z-test of the mean,
    // here between the deterministic vec_id-parity cohorts (the
    // drift monitor's NULL distribution — on an unchanged corpus no
    // dimension should flag, which is itself the check).
    //
    // Exactness: the q123/q132 integer-moment stance — values
    // e3-quantize to BIGINTs, per-(cohort, dim) count/sum/sum-of-
    // squares are EXACT integer aggregates (map-side partials, 2d
    // bounded rows out), and every statistic derives from those
    // integers by the same IEEE expression on both engines. The
    // z-score is scale-invariant, so it runs in raw e3 units; means
    // are rescaled for display only.
    QueryDef(
      "q142_embedding_drift",
      (s, dir) => {
        // Drift statistics over the encodable corpus only (finiteVec
        // scaladoc): one NaN coordinate would otherwise poison its
        // dimension's mean on both cohorts — silently as 0 here,
        // loudly as a cast error in the oracle.
        val e = Tables.embeddings(s, dir)
          .filter(VectorFns.finiteVec("embedding"))
          .select(
          (col("vec_id") % 2).cast("int").as("grp"),
          expr("transform(embedding, x -> cast(floor(cast(x as double) * 1000 + 0.5) as bigint))")
            .as("e"))
        val stats = e.select(col("grp"), posexplode(col("e")).as(Seq("i", "v")))
          .groupBy(col("i"))
          .agg(
            sum(when(col("grp") === 0, 1L).otherwise(0L)).as("n_a"),
            sum(when(col("grp") === 0, col("v")).otherwise(0L)).as("s_a"),
            sum(when(col("grp") === 0, col("v") * col("v")).otherwise(0L)).as("ss_a"),
            sum(when(col("grp") === 1, 1L).otherwise(0L)).as("n_b"),
            sum(when(col("grp") === 1, col("v")).otherwise(0L)).as("s_b"),
            sum(when(col("grp") === 1, col("v") * col("v")).otherwise(0L)).as("ss_b"))
        val ma = col("s_a").cast("double") / col("n_a")
        val mb = col("s_b").cast("double") / col("n_b")
        val va = col("ss_a").cast("double") / col("n_a") - ma * ma
        val vb = col("ss_b").cast("double") / col("n_b") - mb * mb
        // Zero pooled variance is REAL data (a constant dim — padding
        // dims in production embeddings): equal means → z = 0 exactly
        // (0/0 limit); different means → infinite drift. Both engines
        // fround(±inf) to inf, so the sentinel is hash-stable; the
        // unguarded division is an ANSI DIVIDE_BY_ZERO abort.
        val zDenomSq = va / col("n_a") + vb / col("n_b")
        val z = when(zDenomSq === 0d,
            when(ma === mb, lit(0d)).otherwise(lit(Double.PositiveInfinity)))
          .otherwise(abs(ma - mb) / sqrt(zDenomSq))
        stats.select((col("i") + 1).cast("long").as("dim"), col("n_a"), col("n_b"),
            Num.fround(ma / 1000.0, 6).as("mean_a"),
            Num.fround(mb / 1000.0, 6).as("mean_b"),
            Num.fround(z, 4).as("z"),
            (z > 3.0).as("drifted"))
          .orderBy(col("dim"))
      },
      Some {
        val ma = "s_a::DOUBLE / n_a"
        val mb = "s_b::DOUBLE / n_b"
        val va = s"ss_a::DOUBLE / n_a - ($ma) * ($ma)"
        val vb = s"ss_b::DOUBLE / n_b - ($mb) * ($mb)"
        val zd = s"($va) / n_a + ($vb) / n_b"
        val z = s"""(CASE WHEN ($zd) = 0
                    THEN (CASE WHEN ($ma) = ($mb) THEN 0.0 ELSE 'inf'::DOUBLE END)
                    ELSE abs(($ma) - ($mb)) / sqrt($zd) END)"""
        s"""WITH e AS (
              SELECT (vec_id % 2)::INT AS grp,
                [floor(embedding[i]::DOUBLE * 1000 + 0.5)::BIGINT
                 for i in generate_series(1, 64)] AS e
              FROM embeddings WHERE ${VectorFns.finiteVecSql("embedding")}),
            x AS (SELECT grp, i, e[i] AS v FROM e, generate_series(1, 64) AS g(i)),
            s AS (SELECT i,
                    sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
                    sum(CASE WHEN grp = 0 THEN v ELSE 0 END)::BIGINT AS s_a,
                    sum(CASE WHEN grp = 0 THEN v * v ELSE 0 END)::BIGINT AS ss_a,
                    sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
                    sum(CASE WHEN grp = 1 THEN v ELSE 0 END)::BIGINT AS s_b,
                    sum(CASE WHEN grp = 1 THEN v * v ELSE 0 END)::BIGINT AS ss_b
                  FROM x GROUP BY i)
            SELECT i::BIGINT AS dim, n_a, n_b,
              ${Num.froundSql(s"($ma) / (1000.0::DOUBLE)", 6)} AS mean_a,
              ${Num.froundSql(s"($mb) / (1000.0::DOUBLE)", 6)} AS mean_b,
              ${Num.froundSql(z, 4)} AS z,
              (($z) > 3.0) AS drifted
            FROM s ORDER BY dim"""
      },
    ),

    PqEncodeDef,
    PqAdcDef,
    PqIvfDef,
    FilteredAnnDef,
    MatryoshkaDef,
    RerankCascadeDef,
    IncrementalIvfDef,
    TombstoneServeDef,
    CompactionDef,
    BinaryQuantDef,
    IvfBqDef,
    IvfBqTunedDef,
    BqSweepDef,
  )

  // Tombstoned ANN serving — DELETIONS under the merge-on-read
  // discipline every lakehouse ANN index uses: a delete batch never
  // rewrites the index; it flags rows (`is_deleted`, applied at
  // index-maintenance time — the q162 merge path), serving pushes
  // `NOT is_deleted` into the cell scan as a plain predicate, and a
  // per-cell deleted-fraction audit decides when a cell is worth
  // COMPACTING (physically rewriting without tombstones — the
  // retention sweep MergeInto.compact models for the gold table).
  // Serve-through-tombstones ≡ rebuild-without-deleted holds by
  // construction here (per-vector assignment against a frozen
  // quantizer commutes with the row filter); the oracle mirrors the
  // filtered serve and pins the arithmetic + the audit.
  //
  // Deterministic delete set: vec_id % 7 == 3 (~14%). Output: per
  // probe the top-3 LIVE neighbors in its cell, plus the cell's
  // live/deleted counts and the compact flag (deleted fraction >
  // 0.25 at 4dp).

  /** The tombstoned IVF index — STAGED, not persisted: this is the
    * stored lakehouse artifact (index rows + `is_deleted` flags) that
    * q163 serves through and q167 compacts; staging builds it once
    * per (JVM, input dir) and keeps it off the executor heap. */
  private def tombstonedIdx(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.operators.Staged.parquet(s, s"q163idx|$dir") {
      // derived from the shared ivf_assigned stage (nested staging —
      // the same assignment crossJoin never runs twice per JVM)
      ivfAssignedIdx(s, dir)
        .select(col("vec_id"), col("cell"), col("embedding"), col("nsq"))
        .withColumn("is_deleted", col("vec_id") % 7 === 3)
    }

  private lazy val TombstoneServeDef: QueryDef =
    QueryDef(
      "q163_ann_tombstones",
      (s, dir) => {
        val idx = tombstonedIdx(s, dir)
        val cellAudit = idx.groupBy(col("cell"))
          .agg(sum(when(col("is_deleted"), 0L).otherwise(1L)).as("live_n"),
            sum(when(col("is_deleted"), 1L).otherwise(0L)).as("dead_n"))
          .withColumn("dead_frac", Num.fround(
            col("dead_n").cast("double") / (col("live_n") + col("dead_n")), 4))
          .withColumn("compact", col("dead_frac") > 0.25)
        val probes = idx.filter(col("vec_id") < N_PROBES && !col("is_deleted"))
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("cell"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        idx.filter(!col("is_deleted"))
          .join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("cell"), sim.as("sim"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .join(broadcast(cellAudit), Seq("cell"))
          .select(col("probe_id"), col("rank"), col("vec_id"), col("cell"),
            col("sim"), col("live_n"), col("dead_n"), col("dead_frac"), col("compact"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // $IVF_K) = 0),
               assigned AS MATERIALIZED (
                 SELECT vec_id, emb, nsq, cid AS cell,
                   (vec_id % 7 = 3) AS is_deleted
                 FROM (
                   SELECT c.vec_id, c.emb, c.nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               audit AS (
                 SELECT cell,
                   sum(CASE WHEN is_deleted THEN 0 ELSE 1 END)::BIGINT AS live_n,
                   sum(CASE WHEN is_deleted THEN 1 ELSE 0 END)::BIGINT AS dead_n
                 FROM assigned GROUP BY cell),
               audit2 AS (
                 SELECT cell, live_n, dead_n,
                   ${Num.froundSql("dead_n::DOUBLE / (live_n + dead_n)", 4)} AS dead_frac
                 FROM audit),
               live AS (SELECT * FROM assigned WHERE NOT is_deleted),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, cell
                     FROM live WHERE vec_id < $N_PROBES),
               rk AS (
                 SELECT probe_id, vec_id, cell, sim,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank
                 FROM (
                   SELECT p.probe_id, a.vec_id, a.cell,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "a.emb"), "p_nsq", "a.nsq")}", 4)} AS sim
                   FROM live a JOIN p ON a.cell = p.cell
                   WHERE a.vec_id <> p.probe_id)
                 QUALIFY rank <= 3)
               SELECT rk.probe_id, rk.rank, rk.vec_id, rk.cell, rk.sim,
                 audit2.live_n, audit2.dead_n, audit2.dead_frac,
                 (audit2.dead_frac > 0.25) AS compact
               FROM rk JOIN audit2 USING (cell)
               ORDER BY rk.probe_id, rk.rank"""),
    )

  // ANN index COMPACTION — the maintenance path q163's audit only
  // FLAGS: cells whose deleted fraction exceeds the threshold are
  // physically REWRITTEN without their tombstoned rows (the
  // merge-on-read → copy-on-write transition every lakehouse table
  // service runs), cells below it keep serving through tombstones.
  // Serving the compacted store is provably identical to serving
  // through tombstones — compaction removes only rows the serve
  // filter already excludes — and that equivalence is exactly what
  // the oracle checks: the serve block of the SQL mirror recomputes
  // the topology from scratch, so a compaction bug that drops a live
  // row (or keeps a dead one in a "compacted" cell) diverges the
  // hash. CompactionSpec additionally asserts the PHYSICAL claims:
  // zero tombstoned rows remain stored in compacted cells, and
  // non-compacted cells are byte-identical to the input index.
  //
  // Threshold: the discrete MEDIAN dead fraction across cells (rank
  // ceil(n/2) — the quantile_disc convention), not a fixed constant:
  // the deterministic ~14% delete rule keeps every cell well under a
  // fixed 0.25 cut at every SF (measured), which would make the
  // rewrite path vacuous. The strict > cut means an all-tie audit
  // would still compact nothing, so both-regimes-populated is a
  // MEASURED property, not structural — CompactionSpec asserts
  // compacted and serve-through cells are both non-empty at the
  // tested SF.
  //
  // Scale shape: the audit and threshold are windows/joins over the
  // ≤|cells|-row aggregate; the rewrite is one filter over the staged
  // index written back cell-partitioned (only flagged DIRECTORIES
  // change under a real table service — modeled here by the
  // partitioned stage); the serve is q163's broadcast cell-join.
  // `stored_n`/`removed_n` are MEASURED from the compacted store
  // (groupBy cell count), not derived arithmetic — the oracle derives
  // them independently, so the output pins the physical row counts.
  private lazy val CompactionDef: QueryDef =
    QueryDef(
      "q167_ann_compaction",
      (s, dir) => {
        val idx = tombstonedIdx(s, dir)
        val audit = idx.groupBy(col("cell"))
          .agg(sum(when(col("is_deleted"), 0L).otherwise(1L)).as("live_n"),
            sum(when(col("is_deleted"), 1L).otherwise(0L)).as("dead_n"))
          .withColumn("dead_frac", Num.fround(
            col("dead_n").cast("double") / (col("live_n") + col("dead_n")), 4))
        // discrete median over the bounded cell audit (row_number over
        // ≤|cells| rows — never corpus rows)
        val nc = audit.agg(count(lit(1)).as("nc"))
        val thr = audit
          .withColumn("rk",
            row_number().over(Window.orderBy(col("dead_frac"), col("cell"))))
          .crossJoin(broadcast(nc))
          .filter(col("rk") === ceil(col("nc").cast("double") / 2).cast("int"))
          .select(col("dead_frac").as("thr"))
        val audit3 = audit.crossJoin(broadcast(thr))
          .withColumn("compacted", col("dead_frac") > col("thr"))
        val store = graft.operators.Staged.partitionedParquet(
            s, s"q167store|$dir", "cell") {
          idx.join(broadcast(audit3.select(col("cell"), col("compacted"))), Seq("cell"))
            .filter(!(col("compacted") && col("is_deleted")))
            .select(col("vec_id"), col("cell"), col("embedding"), col("nsq"),
              col("is_deleted"))
        }
        val stored = store.groupBy(col("cell")).agg(count(lit(1)).as("stored_n"))
        val live = store.filter(!col("is_deleted"))
        val probes = live.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
            col("nsq").as("p_nsq"), col("cell"))
        val sim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
        live.join(broadcast(probes), Seq("cell"))
          .filter(col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"), col("cell"), sim.as("sim"))
          .withColumn("rank", row_number().over(w).cast("long"))
          .filter(col("rank") <= 3)
          .join(broadcast(audit3), Seq("cell"))
          .join(broadcast(stored), Seq("cell"))
          .select(col("probe_id"), col("rank"), col("vec_id"), col("cell"),
            col("sim"), col("live_n"), col("dead_n"), col("dead_frac"),
            col("compacted"), col("stored_n"),
            (col("live_n") + col("dead_n") - col("stored_n")).as("removed_n"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // $IVF_K) = 0),
               assigned AS MATERIALIZED (
                 SELECT vec_id, emb, nsq, cid AS cell,
                   (vec_id % 7 = 3) AS is_deleted
                 FROM (
                   SELECT c.vec_id, c.emb, c.nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               audit AS (
                 SELECT cell,
                   sum(CASE WHEN is_deleted THEN 0 ELSE 1 END)::BIGINT AS live_n,
                   sum(CASE WHEN is_deleted THEN 1 ELSE 0 END)::BIGINT AS dead_n
                 FROM assigned GROUP BY cell),
               audit2 AS (
                 SELECT cell, live_n, dead_n,
                   ${Num.froundSql("dead_n::DOUBLE / (live_n + dead_n)", 4)} AS dead_frac
                 FROM audit),
               thr AS (SELECT quantile_disc(dead_frac, 0.5) AS thr FROM audit2),
               audit3 AS (
                 SELECT audit2.*, (dead_frac > thr) AS compacted
                 FROM audit2 CROSS JOIN thr),
               store AS (
                 SELECT a.* FROM assigned a JOIN audit3 USING (cell)
                 WHERE NOT (audit3.compacted AND a.is_deleted)),
               stored AS (SELECT cell, count(*)::BIGINT AS stored_n FROM store GROUP BY cell),
               live AS (SELECT * FROM store WHERE NOT is_deleted),
               p AS (SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq, cell
                     FROM live WHERE vec_id < $N_PROBES),
               rk AS (
                 SELECT probe_id, vec_id, cell, sim,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank
                 FROM (
                   SELECT p.probe_id, a.vec_id, a.cell,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "a.emb"), "p_nsq", "a.nsq")}", 4)} AS sim
                   FROM live a JOIN p ON a.cell = p.cell
                   WHERE a.vec_id <> p.probe_id)
                 QUALIFY rank <= 3)
               SELECT rk.probe_id, rk.rank, rk.vec_id, rk.cell, rk.sim,
                 audit3.live_n, audit3.dead_n, audit3.dead_frac, audit3.compacted,
                 stored.stored_n,
                 (audit3.live_n + audit3.dead_n - stored.stored_n)::BIGINT AS removed_n
               FROM rk JOIN audit3 USING (cell) JOIN stored USING (cell)
               ORDER BY rk.probe_id, rk.rank"""),
    )

  // Retrieve-then-RERANK cascade — the two-stage serving path every
  // RAG deployment runs (cheap recall stage → expensive precision
  // stage), complementing q120's rank FUSION (which merges parallel
  // rankers; a cascade FEEDS one into the next): BM25 generates a
  // top-50 candidate shortlist, the dense cosine re-scores ONLY those
  // 50, and the final top-10 carries both stages' ranks so the
  // cascade's reordering is auditable (a lex_rank-1 doc landing
  // dense-rank-8 is the cascade doing its job).
  //
  // Scale shape: stage 1 is a TakeOrderedAndProject over the corpus
  // scan (no exchange); stage 2 touches exactly 50 rows — the
  // shortlist BROADCASTS to the embeddings scan (a semi-join-shaped
  // payload fetch), and the rerank window sees 50 rows at any corpus
  // size. The expensive kernel runs on a constant-size set: the
  // whole point of a cascade.
  private lazy val RerankCascadeDef: QueryDef =
    QueryDef(
      "q161_rerank_cascade",
      (s, dir) => {
        val terms = Seq("spark", "join", "dup")
        val (k1, b) = (1.2, 0.75)
        val K1st = 50
        val K2nd = 10
        val perDoc = Tables.documents(s, dir)
          .select(col("doc_id") +: size(split(col("text"), " ")).as("dl") +:
            terms.map(w => expr(s"size(filter(split(text, ' '), t -> t = '$w'))")
              .cast("double").as(s"tf_$w")): _*)
        val statCols = avg(col("dl").cast("double")).as("avgdl") +:
          terms.map(w => sum(when(col(s"tf_$w") > 0, 1L).otherwise(0L))
            .cast("double").as(s"df_$w"))
        val stats = perDoc.agg(count(lit(1)).cast("double").as("n"), statCols: _*)
        val bm25 = terms.map { w =>
          val idf = log((col("n") - col(s"df_$w") + 0.5) / (col(s"df_$w") + 0.5) + 1.0)
          idf * col(s"tf_$w") * (k1 + 1.0) /
            (col(s"tf_$w") + (col("dl").cast("double") / col("avgdl") * b + (1.0 - b)) * k1)
        }.reduce(_ + _)
        val lexTop = perDoc.crossJoin(broadcast(stats))
          .select(col("doc_id").as("id"), Num.fround(bm25, 4).as("s_lex"))
          .orderBy(col("s_lex").desc, col("id")).limit(K1st)
          .withColumn("lex_rank", row_number().over(
            Window.orderBy(col("s_lex").desc, col("id"))).cast("long"))
        val c = corpus(s, dir)
        val probe = c.filter(col("vec_id") === 0)
          .select(col("embedding").as("p_emb"), col("nsq").as("p_nsq"))
        val sDense = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 4)
        val wFinal = Window.orderBy(col("s_dense").desc, col("id"))
        c.join(broadcast(lexTop), c("vec_id") === lexTop("id"))
          .crossJoin(broadcast(probe))
          .select(col("id"), col("lex_rank"), col("s_lex"), sDense.as("s_dense"))
          .withColumn("final_rank", row_number().over(wFinal).cast("long"))
          .filter(col("final_rank") <= K2nd)
          .select(col("final_rank"), col("id"), col("lex_rank"),
            col("s_lex"), col("s_dense"))
          .orderBy(col("final_rank"))
      },
      Some {
        val terms = Seq("spark", "join", "dup")
        val tfCols = terms.map(w =>
          s"len(list_filter(string_split(text, ' '), t -> t = '$w'))::DOUBLE AS tf_$w")
          .mkString(", ")
        val dfCols = terms.map(w =>
          s"sum(CASE WHEN tf_$w > 0 THEN 1 ELSE 0 END)::DOUBLE AS df_$w")
          .mkString(", ")
        val scoreSql = terms.map(w =>
          s"""ln((n - df_$w + 0.5) / (df_$w + 0.5) + 1) * tf_$w * 2.2
              / (tf_$w + (dl / avgdl * 0.75 + 0.25) * 1.2)""").mkString(" + ")
        s"""WITH per_doc AS (
                 SELECT doc_id, len(string_split(text, ' '))::DOUBLE AS dl, $tfCols
                 FROM documents),
               stats AS (
                 SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl, $dfCols FROM per_doc),
               lex_top AS (
                 SELECT doc_id AS id, ${Num.froundSql(scoreSql, 4)} AS s_lex
                 FROM per_doc, stats
                 ORDER BY s_lex DESC, id LIMIT 50),
               lex AS (
                 SELECT id, s_lex,
                   row_number() OVER (ORDER BY s_lex DESC, id)::BIGINT AS lex_rank
                 FROM lex_top),
               c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT emb AS p_emb, nsq AS p_nsq FROM c WHERE vec_id = 0),
               rr AS (
                 SELECT lex.id, lex.lex_rank, lex.s_lex,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "c.emb"), "p_nsq", "c.nsq")}", 4)} AS s_dense
                 FROM lex JOIN c ON c.vec_id = lex.id CROSS JOIN p)
               SELECT row_number() OVER (ORDER BY s_dense DESC, id)::BIGINT AS final_rank,
                 id, lex_rank, s_lex, s_dense
               FROM rr
               QUALIFY final_rank <= 10
               ORDER BY final_rank"""
      },
    )

  // INCREMENTAL IVF index maintenance — the q111 incremental-pairs
  // stance applied to the ANN index: when a delta batch of vectors
  // arrives, only the DELTA is assigned (a narrow argmax against the
  // frozen broadcast centroids) and unioned with the staged base
  // assignment; nothing about the base recomputes. The ORACLE does
  // the opposite — a FULL rebuild assigning every vector from
  // scratch against the same centroids — so the hash match is an
  // independent proof that incremental maintenance equals a rebuild
  // (valid exactly because the coarse quantizer is frozen: real
  // deployments freeze it too and retrain offline when drift — q142's
  // monitor — says so).
  //
  // Split: vec_id % 10 == 0 is the arriving delta; centroids derive
  // from the BASE population only (the index existed before the
  // delta). Per-cell counts ride along — the monitor a serving system
  // watches for cell-balance drift after each delta merge.
  private lazy val IncrementalIvfDef: QueryDef =
    QueryDef(
      "q162_incremental_ivf",
      (s, dir) => {
        val c = corpus(s, dir)
        val base = c.filter(col("vec_id") % 10 =!= 0)
        val delta = c.filter(col("vec_id") % 10 === 0)
        val nBase = base.agg(count(lit(1)).as("n_base"))
        val cents = base.crossJoin(broadcast(nBase))
          .filter(col("vec_id") %
            greatest(lit(97L), floor(col("n_base") / IVF_K).cast("long")) === 0)
          .select(col("vec_id").as("cid"), col("embedding").as("c_emb"),
            col("nsq").as("c_nsq"))
        // staged base assignment: built once per (dir, JVM) — the
        // pre-existing index artifact a delta merge reads, not
        // recomputes
        val baseIdx = graft.operators.Staged.parquet(s, s"ivf_inc_base|$dir") {
          ivfAssign(base, cents, Seq.empty).select(col("vec_id"), col("cell"))
        }
        val deltaIdx = ivfAssign(delta, cents, Seq.empty)
          .select(col("vec_id"), col("cell"))
        val merged = baseIdx.unionByName(deltaIdx)
        val cellCounts = merged.groupBy(col("cell")).agg(count(lit(1)).as("cell_n"))
        merged.join(broadcast(cellCounts), Seq("cell"))
          .select(col("vec_id"), col("cell"),
            (col("vec_id") % 10 === 0).as("is_delta"), col("cell_n"))
          .orderBy(col("vec_id"))
      },
      Some(s"""WITH c AS (
                 SELECT vec_id, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               nb AS (SELECT count(*)::BIGINT AS n_base FROM c WHERE vec_id % 10 <> 0),
               cents AS (
                 SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c, nb
                 WHERE vec_id % 10 <> 0
                   AND vec_id % greatest(97, n_base // $IVF_K) = 0),
               assigned AS (
                 SELECT vec_id, cid AS cell FROM (
                   SELECT c.vec_id, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               cc AS (SELECT cell, count(*)::BIGINT AS cell_n FROM assigned GROUP BY cell)
               SELECT a.vec_id, a.cell, (a.vec_id % 10 = 0) AS is_delta, cc.cell_n
               FROM assigned a JOIN cc USING (cell)
               ORDER BY a.vec_id"""),
    )

  // Matryoshka-style DIMENSION-ABLATION evaluation (Kusupati et al.,
  // "Matryoshka Representation Learning", NeurIPS 2022): how much
  // retrieval quality survives truncating embeddings to their first
  // d dims — the measurement behind serving a 64-dim index from the
  // prefix of a 64-dim embedding (shorter prefixes: cheaper dots,
  // smaller index; the compression axis ORTHOGONAL to SQ/PQ/JL,
  // which shrink bits or rotate, never nest). For d ∈ {8,16,32,64}
  // the brute top-10 by prefix-d cosine is cut per probe and scored
  // against the full-dimension top-10; output is the 4-row
  // recall-vs-dims curve, exact integers + one rounded ratio.
  //
  // Scale shape: an EVAL query — ONE corpus scan computes all four
  // prefix kernels per (probe, vec) row (prefix dots/norms share the
  // scan, not four passes), the per-(probe, dim) windows are the
  // teaching brute-force baseline (q37's shape; at 100 TB this runs
  // over a fixed eval sample, while the serving path stays IVF).
  // Determinism: 6dp-rounded cosine, vec_id ties, mirrored folds.
  // lazy: the eager query-registry val above forces MatryoshkaDef
  // during <clinit>, before later-declared plain vals are assigned
  private lazy val MatryoshkaDims = Seq(8, 16, 32, 64)
  private lazy val MatryoshkaK = 10

  /** q158's staged per-(probe, dim) top-K cut — public so PlanSpec can
    * assert on the BUILD plan the staged read hides (the
    * q39/lsh32Build convention).
    *
    * The four prefix NORMS are per-vector, not per-pair — hoisted to
    * one fold per (row, d) in a projection BELOW the pair join (they
    * were recomputed per probe: 8 redundant folds per pair at
    * N_PROBES=8; at 100 TB the pair scan is the whole cost). The fold
    * itself is unchanged — the identical aggregate over the identical
    * slice — so every norm VALUE is bit-identical and the oracle
    * (which inlines the norms per pair) still hash-matches. Only the
    * per-pair DOTS remain in the pair scan; they cannot hoist
    * (pair-dependent) and must stay whole left-to-right folds —
    * summing per-segment subtotals would change double rounding. */
  def matryoshkaCutBuild(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val Dims = MatryoshkaDims
    val K = MatryoshkaK
    val nrms = array(Dims.map { d =>
      expr(s"aggregate(slice(e, 1, $d), 0D, (acc, x) -> acc + x * x)")
    }: _*)
    val base = Tables.embeddings(s, dir).select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .withColumn("nrms", nrms)
    val probes = base.filter(col("vec_id") < N_PROBES)
      .select(col("vec_id").as("probe_id"), col("e").as("p_e"),
        col("nrms").as("p_nrms"))
    val pairs = base.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
    val simStructs = array(Dims.zipWithIndex.map { case (d, i) =>
      val dot = expr(s"aggregate(zip_with(slice(e, 1, $d), slice(p_e, 1, $d)," +
        " (x, y) -> x * y), 0D, (acc, v) -> acc + v)")
      val ne = element_at(col("nrms"), i + 1)
      val np = element_at(col("p_nrms"), i + 1)
      struct(lit(d.toLong).as("dim"),
        Num.fround(VectorFns.cosine(dot, ne, np), 6).as("sim"))
    }: _*)
    val melted = pairs
      .select(col("probe_id"), col("vec_id"), explode(simStructs).as("ds"))
      .select(col("probe_id"), col("vec_id"),
        col("ds.dim").as("dim"), col("ds.sim").as("sim"))
    val w = Window.partitionBy(col("probe_id"), col("dim"))
      .orderBy(col("sim").desc, col("vec_id"))
    melted.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= K)
  }

  private lazy val MatryoshkaDef: QueryDef = {
    val Dims = MatryoshkaDims
    val K = MatryoshkaK
    QueryDef(
      "q158_matryoshka_recall",
      (s, dir) => {
        // The per-dim top-K cut feeds two branches (full-dim truth +
        // hits) — staged, not persisted (no JVM-lifetime heap pin).
        val cut = graft.operators.Staged.parquet(s, s"q158cut|$dir") {
          matryoshkaCutBuild(s, dir)
        }
        val full = cut.filter(col("dim") === 64)
          .select(col("probe_id"), col("vec_id"))
        // explicit dims spine: a prefix with ZERO full-dim hits must
        // still emit its row (observed at sf0.1 for d=8) — a curve
        // with silently missing points reads as coverage it isn't
        val spine = s.range(1)
          .select(explode(array(Dims.map(d => lit(d.toLong)): _*)).as("dim"))
        val hits = cut.join(broadcast(full), Seq("probe_id", "vec_id"))
          .groupBy(col("dim"))
          .agg(count(lit(1)).as("total_hits"))
        // Recall denominator MEASURED as count(full), not the K·probes
        // literal: a probe with fewer than K full-dim neighbors (tiny
        // corpus) would silently understate recall under the constant.
        val nFull = full.agg(count(lit(1)).as("n_full"))
        spine.join(broadcast(hits), Seq("dim"), "left")
          .crossJoin(broadcast(nFull))
          .select(col("dim"),
            coalesce(col("total_hits"), lit(0L)).as("total_hits"),
            Num.fround(coalesce(col("total_hits"), lit(0L)).cast("double") /
              col("n_full").cast("double"), 4).as("recall_vs_full"))
          .orderBy(col("dim"))
      },
      Some {
        val branches = Dims.map { d =>
          val dot = s"list_sum([e.e[i] * p.p_e[i] for i in generate_series(1, $d)])"
          val ne = s"list_sum([e.e[i] * e.e[i] for i in generate_series(1, $d)])"
          val np = s"list_sum([p.p_e[i] * p.p_e[i] for i in generate_series(1, $d)])"
          s"""SELECT p.probe_id, e.vec_id, $d AS dim,
                ${Num.froundSql(VectorFns.cosineSql(dot, s"($ne)", s"($np)"), 6)} AS sim
              FROM e, p WHERE e.vec_id <> p.probe_id"""
        }.mkString("\n               UNION ALL\n               ")
        s"""WITH e AS MATERIALIZED (
                 SELECT vec_id,
                   [embedding[i]::DOUBLE for i in generate_series(1, 64)] AS e
                 FROM ${VectorFns.embeddingsSql}),
               p AS (SELECT vec_id AS probe_id, e AS p_e FROM e
                     WHERE vec_id < $N_PROBES),
               pr AS ($branches),
               cut AS MATERIALIZED (
                 SELECT probe_id, vec_id, dim FROM (
                   SELECT *, row_number() OVER (PARTITION BY probe_id, dim
                     ORDER BY sim DESC, vec_id) AS rank
                   FROM pr) WHERE rank <= $K),
               f AS (SELECT probe_id, vec_id FROM cut WHERE dim = 64),
               h AS (SELECT dim, count(*)::BIGINT AS total_hits
                     FROM cut JOIN f USING (probe_id, vec_id) GROUP BY dim),
               nf AS (SELECT count(*)::BIGINT AS n_full FROM f),
               spine AS (SELECT unnest([${Dims.mkString(", ")}]) AS dim)
               SELECT spine.dim::BIGINT AS dim,
                 coalesce(h.total_hits, 0)::BIGINT AS total_hits,
                 ${Num.froundSql("coalesce(h.total_hits, 0)::DOUBLE / nf.n_full::DOUBLE", 4)} AS recall_vs_full
               FROM spine LEFT JOIN h ON h.dim = spine.dim CROSS JOIN nf
               ORDER BY spine.dim"""
      },
    )
  }

  // FILTERED vector search — ANN under a metadata predicate (every
  // production vector store's "filtered query": retrieve neighbors
  // WITH label = X). The naive plans both fail at scale: post-filter
  // (search then drop non-matching) collapses recall at selective
  // filters; pre-filter (scan all label-mates) is a full partition
  // scan. The serving shape here is the IVF middle road: the probe
  // ranks the UNFILTERED coarse cells (geometry is label-agnostic),
  // candidates come from nprobe=4 cells with the label predicate
  // pushed into the same scan (at 100 TB: cell-partitioned storage —
  // q103's layout — with the label as a row filter inside the pruned
  // directories), and recall is measured against the FILTERED exact
  // ground truth and emitted per row (the q112/q151 tripwire stance:
  // a geometry/filter misalignment collapses hits and reddens the
  // CORRECTNESS row, since the oracle derives the same integers
  // independently).
  //
  // nprobe=4 (vs q101's 2) compensates for ~10% label selectivity:
  // label-mates concentrate in no particular cell, so the filtered
  // candidate pool shrinks ~10x and more cells are needed to keep
  // the shortlist meaningful. Determinism: candidate rank on
  // 4dp-rounded cosine with vec_id ties; exact side on 6dp-rounded
  // cosine with vec_id ties (both mirrored in SQL).
  private lazy val FilteredAnnDef: QueryDef =
    QueryDef(
      "q157_filtered_ann",
      (s, dir) => {
        val NPROBE = 4
        val K = 3
        val cents = ivfCents(s, dir)
        val assigned = ivfAssignedIdx(s, dir)
          .select(col("vec_id"), col("cell"), col("label"), col("embedding"), col("nsq"))
        val pb = assigned.filter(col("vec_id") < N_PROBES)
        val probeCells = routeProbes(pb, cents, NPROBE,
          "label" -> "p_label", "embedding" -> "p_emb", "nsq" -> "p_nsq")
        // Bounded shortlist (N_PROBES × K rows) consumed by two
        // branches — staged, not persisted (no JVM-lifetime heap pin).
        val ranked = graft.operators.Staged.parquet(s, s"q157rk|$dir") {
          Clustering.topBySim(scanCells(assigned, probeCells)
            .filter(col("label") === col("p_label"))
            .select(col("probe_id"), col("vec_id"), col("cell"),
              Clustering.probeSim.as("sim")), K)
        }
        // exact ground truth among label-mates (6dp cosine, vec_id tie)
        val probes = pb.select(col("vec_id").as("probe_id"),
          col("label").as("p_label"), col("embedding").as("p_emb"),
          col("nsq").as("p_nsq"))
        val exSim = Num.fround(
          VectorFns.cosine(VectorFns.dotF("p_emb", "embedding"), col("p_nsq"), col("nsq")), 6)
        val exact = corpus(s, dir).join(broadcast(probes),
            col("vec_id") =!= col("probe_id") && col("label") === col("p_label"))
          .select(col("probe_id"), col("vec_id"), exSim.as("d"))
          .withColumn("xr", row_number().over(
            Window.partitionBy(col("probe_id")).orderBy(col("d").desc, col("vec_id"))))
          .filter(col("xr") <= K)
          .select(col("probe_id"), col("vec_id"))
        val hits = ranked.join(broadcast(exact), Seq("probe_id", "vec_id"))
          .agg(count(lit(1)).as("total_hits"))
        val exCount = exact.agg(count(lit(1)).as("n_exact"))
        ranked
          .join(broadcast(exact.withColumn("hit", lit(1))),
            Seq("probe_id", "vec_id"), "left")
          .crossJoin(broadcast(hits))
          .crossJoin(broadcast(exCount))
          .select(col("probe_id"), col("rank"), col("vec_id"), col("cell"),
            col("sim"), coalesce(col("hit"), lit(0)).as("hit"),
            col("total_hits"), col("n_exact"),
            Num.fround(col("total_hits").cast("double") /
              col("n_exact").cast("double"), 4).as("filtered_recall"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some {
        val NPROBE = 4
        val K = 3
        val centSim6 = Num.froundSql(
          s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)
        s"""WITH c AS (
                 SELECT vec_id, label, embedding::DOUBLE[] AS emb,
                        ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq
                 FROM ${VectorFns.embeddingsSql}),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // $IVF_K) = 0),
               assigned AS MATERIALIZED (
                 SELECT vec_id, label, emb, nsq, cid AS cell FROM (
                   SELECT c.vec_id, c.label, c.emb, c.nsq, cents.cid,
                     $centSim6 AS cent_sim
                   FROM c CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               pb AS (SELECT vec_id AS probe_id, label AS p_label, emb AS p_emb,
                        nsq AS p_nsq
                      FROM assigned WHERE vec_id < $N_PROBES),
               pc AS (
                 SELECT probe_id, p_label, p_emb, p_nsq, cid AS cell FROM (
                   SELECT pb.probe_id, pb.p_label, pb.p_emb, pb.p_nsq, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "p_emb"), "c_nsq", "p_nsq")}", 6)} AS cent_sim
                   FROM pb CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cent_sim DESC, cid) <= $NPROBE),
               rk AS MATERIALIZED (
                 SELECT probe_id, vec_id, cell, sim,
                   row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank
                 FROM (
                   SELECT pc.probe_id, a.vec_id, a.cell,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "a.emb"), "p_nsq", "a.nsq")}", 4)} AS sim
                   FROM assigned a JOIN pc ON a.cell = pc.cell
                   WHERE a.vec_id <> pc.probe_id AND a.label = pc.p_label)
                 QUALIFY rank <= $K),
               ex AS MATERIALIZED (
                 SELECT probe_id, vec_id FROM (
                   SELECT pb.probe_id, c.vec_id,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "c.emb"), "p_nsq", "c.nsq")}", 6)} AS d,
                     row_number() OVER (PARTITION BY pb.probe_id
                       ORDER BY ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "c.emb"), "p_nsq", "c.nsq")}", 6)} DESC, c.vec_id) AS xr
                   FROM c JOIN pb ON c.label = pb.p_label AND c.vec_id <> pb.probe_id)
                 WHERE xr <= $K),
               th AS (SELECT count(*)::BIGINT AS total_hits
                      FROM rk JOIN ex USING (probe_id, vec_id)),
               xc AS (SELECT count(*)::BIGINT AS n_exact FROM ex)
               SELECT rk.probe_id, rk.rank, rk.vec_id, rk.cell, rk.sim,
                 CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
                 th.total_hits, xc.n_exact,
                 ${Num.froundSql("th.total_hits::DOUBLE / xc.n_exact::DOUBLE", 4)} AS filtered_recall
               FROM rk
                 LEFT JOIN ex ON ex.probe_id = rk.probe_id AND ex.vec_id = rk.vec_id
                 CROSS JOIN th CROSS JOIN xc
               ORDER BY rk.probe_id, rk.rank"""
      },
    )

  /** PQ training: per-subspace codebooks on the constant modulus
    * sample (one 6dp Lloyd refinement — the q97 contract applied per
    * subspace). Driver state: S·K·D = 512 doubles, corpus-
    * independent. The training-time caches are unpersisted before
    * returning — the staged encode pass rebuilds its own base, so
    * keeping them pinned for the JVM lifetime would only leak
    * executor memory. */
  private def pqTrained(s: org.apache.spark.sql.SparkSession, dir: String)
      : IndexedSeq[Seq[(Long, Seq[Double])]] = {
    graft.functions.SqDistF.register(s)
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .persist()
    val m = math.max(1L, base.count() / (PqK * 32))
    val sample = base.filter(col("vec_id") % m === 0).persist()
    val books = (0 until PqS).map { sp =>
      val sub = sample.select(col("vec_id"),
        expr(s"slice(e, ${sp * PqD + 1}, $PqD)").as("e"))
      val seeds = sub.filter(col("vec_id") < PqK * m).collect()
        .sortBy(_.getAs[Long]("vec_id")).zipWithIndex
        .map { case (r, i) => i.toLong -> r.getSeq[Double](1) }.toSeq
      val assigned = sub.withColumn("best",
          array_min(array(seeds.map { case (cid, c) =>
            struct(graft.functions.SqDistF.distCol(col("e"), typedLit(c)).as("dist"),
              lit(cid).as("cid")) }: _*)))
        .select(col("best.cid").as("cid"), col("e"))
      val p = 1000000d
      assigned.select(col("cid"), posexplode(col("e")).as(Seq("i", "x")))
        .groupBy(col("cid"), col("i")).agg(avg(col("x")).as("mu"))
        .collect()
        .groupBy(_.getAs[Long]("cid"))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getAs[Int]("i"))
            .map(r => math.floor(r.getAs[Double]("mu") * p + 0.5) / p).toSeq
        }.toSeq.sortBy(_._1)
    }
    sample.unpersist()
    base.unpersist()
    books
  }

  /** Corpus with per-subspace slices `e0..e7` and argmin structs
    * `b0..b7` (dist, cid) against the trained codebooks — the encode
    * pass both q150 (codes + error) and q151 (ADC search) read.
    * Returns (books, frame). */
  /** Trained codebooks cached per (JVM, input dir): the training jobs
    * (seed collect + one Lloyd refinement per subspace — constant
    * state) run once and every consumer reuses the same 512 doubles,
    * exactly like the staged-parquet discipline for table artifacts. */
  private val pqBookCache =
    scala.collection.concurrent.TrieMap.empty[String, IndexedSeq[Seq[(Long, Seq[Double])]]]

  private def pqEncoded(s: org.apache.spark.sql.SparkSession, dir: String)
      : (IndexedSeq[Seq[(Long, Seq[Double])]], org.apache.spark.sql.DataFrame) = {
    val books = pqBookCache.getOrElseUpdate(dir, pqTrained(s, dir))
    // The encoded corpus (argmin struct per subspace) is the PQ
    // artifact a deployment persists next to the codebooks — staged
    // through parquet once per (dir, JVM), shared by q150 (codes +
    // error listing) and q151 (ADC search reads codes only).
    val withCodes = graft.operators.Staged.parquet(s, s"pq_enc|$dir") {
      graft.functions.SqDistF.register(s)
      val base = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      val sliced = base.select(col("vec_id") +:
        (0 until PqS).map(sp => expr(s"slice(e, ${sp * PqD + 1}, $PqD)").as(s"e$sp")): _*)
      (0 until PqS).foldLeft(sliced) { (df, sp) =>
        df.withColumn(s"b$sp", array_min(array(books(sp).map { case (cid, c) =>
          struct(graft.functions.SqDistF.distCol(col(s"e$sp"), typedLit(c)).as("dist"),
            lit(cid).as("cid")) }: _*)))
      }.select(col("vec_id") +: (0 until PqS).map(sp => col(s"b$sp")): _*)
    }
    (books, withCodes)
  }

  /** Shared DuckDB CTE list for the PQ chain (no leading WITH):
    * defines `e(vec_id, e)`, `prm`, `smp`, per-subspace `c1{sp}`
    * codebooks and `enc{sp}(vec_id, cid, dist)` encode tables. */
  private def pqSqlCtes: String = {
    def distSub(a: String, c: String) =
      s"list_sum([($a[i] - $c[i]) * ($a[i] - $c[i]) for i in generate_series(1, $PqD)])"
    def distAt(lo: Int, a: String, c: String) =
      s"list_sum([($a[$lo + i - 1] - $c[i]) * ($a[$lo + i - 1] - $c[i]) for i in generate_series(1, $PqD)])"
    val perSub = (0 until PqS).map { sp =>
      val lo = sp * PqD + 1
      s"""s$sp AS (SELECT vec_id, e[$lo:${lo + PqD - 1}] AS sub FROM smp),
          c0$sp AS (SELECT row_number() OVER (ORDER BY s.vec_id) - 1 AS cid, s.sub AS c
                    FROM s$sp s, prm WHERE s.vec_id < $PqK * prm.m),
          d1$sp AS (SELECT s.vec_id, c0.cid, ${distSub("s.sub", "c0.c")} AS dist
                    FROM s$sp s, c0$sp c0),
          a1$sp AS (SELECT vec_id, cid FROM (
                      SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                      FROM d1$sp) WHERE rn = 1),
          up$sp AS (SELECT a.cid, t.i, ${Num.froundSql("avg(s.sub[t.i])", 6)} AS x
                    FROM a1$sp a JOIN s$sp s USING (vec_id),
                      LATERAL (SELECT unnest(generate_series(1, $PqD)) AS i) t
                    GROUP BY a.cid, t.i),
          c1$sp AS MATERIALIZED (SELECT cid, list(x ORDER BY i) AS c
                                 FROM up$sp GROUP BY cid),
          enc$sp AS MATERIALIZED (
            SELECT vec_id, cid, dist FROM (
              SELECT e.vec_id, c1.cid,
                ${distAt(lo, "e.e", "c1.c")} AS dist,
                row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY ${distAt(lo, "e.e", "c1.c")}, c1.cid) AS rn
              FROM e, c1$sp c1) WHERE rn = 1)"""
    }.mkString(",\n              ")
    s"""e AS MATERIALIZED (
            SELECT vec_id,
              [embedding[i]::DOUBLE for i in generate_series(1, 64)] AS e
            FROM ${VectorFns.embeddingsSql}),
          prm AS (SELECT greatest(1, count(*) // ${PqK * 32}) AS m FROM e),
          smp AS (SELECT e.* FROM e, prm WHERE e.vec_id % prm.m = 0),
          $perSub"""
  }

    // PRODUCT QUANTIZATION encode (Jégou et al., "Product
    // Quantization for Nearest Neighbor Search") — the third
    // compression rung after int8 scalar quantization (q71) and JL
    // projection (q129), and the codebook form every billion-vector
    // ANN deployment ships: 64 dims split into 8 subspaces of 8,
    // each with an 8-centroid codebook, so a vector stores as 8
    // 3-bit codes (24 bits vs 2048) and asymmetric distance runs
    // from 8 lookup tables.
    //
    // Scale contract (the q97/q104 stance per subspace): codebooks
    // train on the constant-size modulus sample (m = n/(K·32) —
    // sample ≈ 256 vectors at any corpus), one Lloyd refinement at
    // 6dp; driver/plan state is S·K·D = 512 doubles, corpus-
    // independent. The encode pass is a pure narrow map (argmin over
    // 8 plan-literal centroids per subspace — no join, no shuffle);
    // the output order sort is the only exchange.
    //
    // Cross-engine: subvector slices of the exact double-cast array,
    // fixed-fold distances, per-subspace argmin ties to the lower
    // code, codes = seed rank by sampled vec_id on both engines;
    // recon_err = fixed-order sum of the 8 subspace distances,
    // fround 4.
  private lazy val PqEncodeDef: QueryDef =
    QueryDef(
      "q150_pq_encode",
      (s, dir) => {
        val (_, withCodes) = pqEncoded(s, dir)
        // `codes` is a comma-joined STRING, not array<bigint>: the
        // driver's pandas comparer sorts every column and cannot
        // factorize array cells (round-7 red row). Same information,
        // harness-safe scalar.
        withCodes.select(col("vec_id"),
            concat_ws(",", (0 until PqS).map(sp => col(s"b$sp.cid").cast("string")): _*)
              .as("codes"),
            Num.fround((0 until PqS).map(sp => col(s"b$sp.dist")).reduce(_ + _), 4)
              .as("recon_err"))
          .orderBy(col("vec_id"))
      },
      Some {
        val S = 8; val D = 8; val K = 8
        def dist(lo: Int, a: String, c: String) =
          s"list_sum([($a[${lo} + i - 1] - $c[i]) * ($a[${lo} + i - 1] - $c[i]) for i in generate_series(1, $D)])"
        def distSub(a: String, c: String) =
          s"list_sum([($a[i] - $c[i]) * ($a[i] - $c[i]) for i in generate_series(1, $D)])"
        val perSub = (0 until S).map { sp =>
          val lo = sp * D + 1
          s"""s$sp AS (SELECT vec_id, e[$lo:${lo + D - 1}] AS sub FROM smp),
              c0$sp AS (SELECT row_number() OVER (ORDER BY s.vec_id) - 1 AS cid, s.sub AS c
                        FROM s$sp s, prm WHERE s.vec_id < $K * prm.m),
              d1$sp AS (SELECT s.vec_id, c0.cid, ${distSub("s.sub", "c0.c")} AS dist
                        FROM s$sp s, c0$sp c0),
              a1$sp AS (SELECT vec_id, cid FROM (
                          SELECT vec_id, cid,
                            row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
                          FROM d1$sp) WHERE rn = 1),
              up$sp AS (SELECT a.cid, t.i, ${Num.froundSql("avg(s.sub[t.i])", 6)} AS x
                        FROM a1$sp a JOIN s$sp s USING (vec_id),
                          LATERAL (SELECT unnest(generate_series(1, $D)) AS i) t
                        GROUP BY a.cid, t.i),
              c1$sp AS MATERIALIZED (SELECT cid, list(x ORDER BY i) AS c
                                     FROM up$sp GROUP BY cid),
              enc$sp AS MATERIALIZED (
                SELECT vec_id, cid, dist FROM (
                  SELECT e.vec_id, c1.cid,
                    ${dist(lo, "e.e", "c1.c")} AS dist,
                    row_number() OVER (PARTITION BY e.vec_id
                      ORDER BY ${dist(lo, "e.e", "c1.c")}, c1.cid) AS rn
                  FROM e, c1$sp c1) WHERE rn = 1)"""
        }.mkString(",\n              ")
        val joins = (0 until S).map(sp =>
          s"JOIN enc$sp ON enc$sp.vec_id = e.vec_id").mkString("\n               ")
        val codes = (0 until S).map(sp => s"enc$sp.cid").mkString("[", ", ", "]")
        val errSum = (0 until S).map(sp => s"enc$sp.dist").mkString(" + ")
        s"""WITH e AS MATERIALIZED (
                SELECT vec_id,
                  [embedding[i]::DOUBLE for i in generate_series(1, 64)] AS e
                FROM ${VectorFns.embeddingsSql}),
              prm AS (SELECT greatest(1, count(*) // ${K * 32}) AS m FROM e),
              smp AS (SELECT e.* FROM e, prm WHERE e.vec_id % prm.m = 0),
              $perSub
              SELECT e.vec_id, array_to_string($codes, ',') AS codes,
                ${Num.froundSql(errSum, 4)} AS recon_err
              FROM e
               $joins
              ORDER BY e.vec_id"""
      },
    )

  // PQ ASYMMETRIC-DISTANCE search (the ADC half of Jégou et al.):
  // each probe ranks the corpus by Σ_s d(q_s, centroid[code_s(x)]) —
  // the probe-side distances to all S·K centroids are 64 plan-literal
  // kernels (the "lookup tables"; at serving scale they are computed
  // once per query and broadcast), the corpus side touches ONLY its
  // 8 codes — never the raw vectors. Recall@10 vs the exact
  // full-vector top-10 rides in the output (the q112 tripwire
  // pattern): a broken codebook or code/table misalignment collapses
  // recall to the random baseline and fails the gate instead of
  // silently passing.
  //
  // Rank on the UNROUNDED ADC sum (fixed-order fold per subspace,
  // fixed d0+…+d7 association — bit-identical cross-engine), ties by
  // vec_id; the emitted distance is frounded.
  private lazy val PqAdcDef: QueryDef =
    QueryDef(
      "q151_pq_adc_search",
      (s, dir) => {
        val K = 10
        val (books, withCodes) = pqEncoded(s, dir)
        // narrow select off the staged pq_enc artifact — no persist
        // needed (the stage read is the cheap path already)
        val enc = withCodes.select(col("vec_id") +:
          (0 until PqS).map(sp => col(s"b$sp.cid").as(s"code$sp")): _*)
        val base = Tables.embeddings(s, dir)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
        // ADC: per subspace, look up the probe-to-centroid distance
        // BY CID, not by array position — pqTrained drops empty Lloyd
        // cells from books(sp), so positional indexing would silently
        // shift to the wrong centroid when a cell empties. A literal-
        // keyed map is position-independent and stays a plan constant.
        //
        // r16 optimization (guide §1.2 step 2, per-task work): the
        // lookup TABLE depends only on the probe, so it is computed
        // HERE — once per probe row, carried through the broadcast —
        // instead of inside the corpus-side scan, where the old
        // per-row map expression re-ran all S·K·D distance kernels
        // and allocated S map objects per candidate (the actual
        // "computed once per query and broadcast" contract the ADC
        // comment above always claimed). Same expressions over the
        // same inputs — bit-identical sums, oracle unchanged.
        val probes = base.filter(col("vec_id") < N_PROBES)
          .select(col("vec_id").as("probe_id") +:
            (0 until PqS).map { sp =>
              val pe = expr(s"slice(e, ${sp * PqD + 1}, $PqD)")
              map(books(sp).flatMap { case (cid, c) =>
                Seq(lit(cid), graft.functions.SqDistF.distCol(pe, typedLit(c)))
              }: _*).as(s"dt$sp")
            }: _*)
        val adc = (0 until PqS).map { sp =>
          element_at(col(s"dt$sp"), col(s"code$sp"))
        }.reduce(_ + _)
        val w = Window.partitionBy(col("probe_id")).orderBy(col("adc"), col("vec_id"))
        // Bounded ADC shortlist (N_PROBES × K rows), consumed by the
        // hits gate and the output join — staged, not persisted.
        val ranked = graft.operators.Staged.parquet(s, s"q151rk|$dir") {
          enc.crossJoin(broadcast(probes))
            .filter(col("vec_id") =!= col("probe_id"))
            .select(col("probe_id"), col("vec_id"), adc.as("adc"))
            .withColumn("rank", row_number().over(w).cast("long"))
            .filter(col("rank") <= K)
        }
        // exact full-vector ground truth (squared L2, same probes)
        val exact = base.join(broadcast(
              base.filter(col("vec_id") < N_PROBES)
                .select(col("vec_id").as("probe_id"), col("e").as("p_e"))),
            col("vec_id") =!= col("probe_id"))
          .select(col("probe_id"), col("vec_id"),
            graft.functions.SqDistF.distCol(col("e"), col("p_e")).as("d"))
          .withColumn("rank", row_number().over(
            Window.partitionBy(col("probe_id")).orderBy(col("d"), col("vec_id"))))
          .filter(col("rank") <= K)
          .select(col("probe_id"), col("vec_id"))
        val hits = ranked.join(broadcast(exact), Seq("probe_id", "vec_id"))
          .agg(count(lit(1)).as("total_hits"))
        val n = Tables.embeddings(s, dir).agg(count(lit(1)).as("n_corpus"))
        val recall = col("total_hits").cast("double") / lit(K.toDouble * N_PROBES)
        // gate on LIFT over the random-shortlist baseline K/(n-1) —
        // scale-robust where an absolute floor is not (recall
        // necessarily falls as the corpus grows at fixed code
        // budget; measured lift ~10x at every SF, gate at 4x). The
        // oracle emits a literal 1: a codebook/code misalignment
        // collapses lift to ~1 and fails CORRECTNESS.
        val lift = recall / (lit(K.toDouble) / (col("n_corpus") - 1).cast("double"))
        ranked
          .join(broadcast(exact.withColumn("hit", lit(1))), Seq("probe_id", "vec_id"), "left")
          .crossJoin(broadcast(hits))
          .crossJoin(broadcast(n))
          .select(col("probe_id"), col("rank"), col("vec_id"),
            Num.fround(col("adc"), 4).as("adc"),
            coalesce(col("hit"), lit(0)).as("hit"),
            col("total_hits"),
            Num.fround(recall, 4).as("mean_recall_at_10"),
            (lift >= lit(4.0)).cast("int").as("lift_ok"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some {
        val K = 10
        val dt = (0 until PqS).map { sp =>
          val lo = sp * PqD + 1
          s"""dt$sp AS (SELECT p.probe_id, c1.cid,
                 list_sum([(p.e[$lo + i - 1] - c1.c[i]) * (p.e[$lo + i - 1] - c1.c[i])
                           for i in generate_series(1, $PqD)]) AS d
               FROM p, c1$sp c1)"""
        }.mkString(",\n               ")
        val codeJoins = (0 until PqS).map(sp =>
          s"JOIN dt$sp ON dt$sp.probe_id = p.probe_id AND dt$sp.cid = cd.codes[${sp + 1}]")
          .mkString("\n                   ")
        val encJoins = (0 until PqS).map(sp =>
          s"JOIN enc$sp ON enc$sp.vec_id = e.vec_id").mkString("\n                   ")
        val codesArr = (0 until PqS).map(sp => s"enc$sp.cid").mkString("[", ", ", "]")
        val adcSum = (0 until PqS).map(sp => s"dt$sp.d").mkString(" + ")
        s"""WITH $pqSqlCtes,
               cd AS MATERIALIZED (
                 SELECT e.vec_id, $codesArr AS codes FROM e
                   $encJoins),
               p AS (SELECT vec_id AS probe_id, e FROM e WHERE vec_id < $N_PROBES),
               $dt,
               adc AS (
                 SELECT p.probe_id, cd.vec_id, $adcSum AS adc
                 FROM cd CROSS JOIN p
                   $codeJoins
                 WHERE cd.vec_id <> p.probe_id),
               rk AS (SELECT probe_id, vec_id, adc,
                        row_number() OVER (PARTITION BY probe_id ORDER BY adc, vec_id)::BIGINT AS rank
                      FROM adc QUALIFY rank <= $K),
               exd AS (
                 SELECT p.probe_id, e.vec_id,
                   list_sum([(e.e[i] - p.e[i]) * (e.e[i] - p.e[i])
                             for i in generate_series(1, 64)]) AS d
                 FROM e, p WHERE e.vec_id <> p.probe_id),
               ex AS (SELECT probe_id, vec_id FROM (
                        SELECT probe_id, vec_id,
                          row_number() OVER (PARTITION BY probe_id ORDER BY d, vec_id) AS rn
                        FROM exd) WHERE rn <= $K),
               th AS (SELECT count(*)::BIGINT AS total_hits
                      FROM rk JOIN ex USING (probe_id, vec_id))
               SELECT rk.probe_id, rk.rank, rk.vec_id,
                 ${Num.froundSql("rk.adc", 4)} AS adc,
                 CASE WHEN ex.vec_id IS NOT NULL THEN 1 ELSE 0 END AS hit,
                 th.total_hits,
                 ${Num.froundSql(s"th.total_hits::DOUBLE / ${K * N_PROBES}", 4)} AS mean_recall_at_10,
                 1 AS lift_ok
               FROM rk LEFT JOIN ex ON ex.probe_id = rk.probe_id AND ex.vec_id = rk.vec_id CROSS JOIN th
               ORDER BY rk.probe_id, rk.rank"""
      },
    )

  // IVF+PQ — the complete FAISS-production index (Jégou et al. §V):
  // the coarse quantizer restricts each probe to nprobe=2 cells
  // (q53/q103's cell equi-join — the corpus never shuffles for
  // serving), the PQ codes rank candidates WITHIN the cells by
  // asymmetric distance (the corpus side touches only its 8 codes —
  // q151's lookup-table kernels), and the float payload re-ranks the
  // bounded top-10 shortlist exactly (q103's broadcast re-rank
  // discipline). Memory story at scale: the scanned index row is
  // cell + 24-bit code; raw vectors are touched only for ≤10 rows
  // per probe.
  private lazy val PqIvfDef: QueryDef =
    QueryDef(
      "q154_ann_ivfpq",
      (s, dir) => {
        graft.functions.DotProductF.register(s)
        val NPROBE = 2
        val cents = ivfCents(s, dir)
        val (books, withCodes) = pqEncoded(s, dir)
        val codes = withCodes.select(col("vec_id") +:
          (0 until PqS).map(sp => col(s"b$sp.cid").as(s"code$sp")): _*)
        // Staged storage-partitioned by cell (q103's layout): the
        // serving scan below reads only the probed cells' directories.
        val idx = graft.operators.Staged.partitionedParquet(
          s, s"ivfpq_idx|$dir", "cell") {
          ivfAssign(corpus(s, dir), ivfCents(s, dir), Seq("embedding", "nsq"))
            .join(codes, Seq("vec_id"))
        }
        // cid-keyed lookup tables (not positional — see q151's note),
        // computed ONCE PER PROBE ROW before routing and carried
        // through the broadcast instead of re-deriving all S·K·D
        // distance kernels per candidate row inside the cell scan (the
        // q151 ADC-table hoist — the scanned row's work is S map
        // lookups, the FAISS ADC contract).
        val dts = (0 until PqS).map(sp => s"dt$sp")
        val pbase = Tables.embeddings(s, dir)
          .filter(col("vec_id") < N_PROBES)
          .select(col("vec_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("p_e"),
            col("embedding"), VectorFns.normSqF("embedding").as("nsq"))
          .select(col("vec_id") +: (0 until PqS).map { sp =>
            val pe = expr(s"slice(p_e, ${sp * PqD + 1}, $PqD)")
            map(books(sp).flatMap { case (cid, c) =>
              Seq(lit(cid), graft.functions.SqDistF.distCol(pe, typedLit(c)))
            }: _*).as(dts(sp))
          } ++: Seq(col("embedding"), col("nsq")): _*)
        val probeCells = routeProbes(pbase, cents, NPROBE,
          dts.map(d => d -> d) ++ Seq("embedding" -> "p_emb", "nsq" -> "p_nsq"): _*)
        val adc = (0 until PqS).map { sp =>
          element_at(col(dts(sp)), col(s"code$sp"))
        }.reduce(_ + _)
        val cellIdx = probedCells(idx, probeCells)
        val cands = scanCells(cellIdx.select(col("vec_id") +: col("cell") +:
            (0 until PqS).map(sp => col(s"code$sp")): _*), probeCells)
          .select(col("probe_id"), col("vec_id"), col("cell"),
            col("p_emb"), col("p_nsq"), adc.as("adc"))
        rerank(cands, "adc", cellIdx, k = 3)(10)
          .select(col("probe_id"), col("rank"), col("vec_id"), col("cell"),
            Num.fround(col("adc"), 4).as("adc"), col("sim"))
          .orderBy(col("probe_id"), col("rank"))
      },
      Some {
        val dt = (0 until PqS).map { sp =>
          val lo = sp * PqD + 1
          s"""dt$sp AS (SELECT p.probe_id, c1.cid,
                 list_sum([(p.p_e[$lo + i - 1] - c1.c[i]) * (p.p_e[$lo + i - 1] - c1.c[i])
                           for i in generate_series(1, $PqD)]) AS d
               FROM pp p, c1$sp c1)"""
        }.mkString(",\n               ")
        val codeJoins = (0 until PqS).map(sp =>
          s"JOIN dt$sp ON dt$sp.probe_id = pc.probe_id AND dt$sp.cid = cd.codes[${sp + 1}]")
          .mkString("\n                   ")
        val encJoins = (0 until PqS).map(sp =>
          s"JOIN enc$sp ON enc$sp.vec_id = e.vec_id").mkString("\n                   ")
        val codesArr = (0 until PqS).map(sp => s"enc$sp.cid").mkString("[", ", ", "]")
        val adcSum = (0 until PqS).map(sp => s"dt$sp.d").mkString(" + ")
        val centSim = Num.froundSql(
          s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)
        s"""WITH $pqSqlCtes,
               cd AS MATERIALIZED (
                 SELECT e.vec_id, $codesArr AS codes FROM e
                   $encJoins),
               nz AS (SELECT vec_id, e AS emb,
                        ${VectorFns.normSqSql("e")} AS nsq FROM e),
               cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM nz
                         WHERE vec_id % greatest(97, (SELECT count(*) FROM nz) // $IVF_K) = 0),
               assigned AS MATERIALIZED (
                 SELECT vec_id, cid AS cell FROM (
                   SELECT nz.vec_id, cents.cid,
                     $centSim AS cent_sim
                   FROM nz CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
               pp AS MATERIALIZED (
                 SELECT vec_id AS probe_id, emb AS p_e, nsq AS p_nsq FROM nz
                 WHERE vec_id < $N_PROBES),
               pc AS (
                 SELECT probe_id, cid AS cell FROM (
                   SELECT pp.probe_id, cents.cid,
                     ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "p_e"), "c_nsq", "p_nsq")}", 6)} AS cent_sim
                   FROM pp CROSS JOIN cents)
                 QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY cent_sim DESC, cid) <= 2),
               $dt,
               cand AS (
                 SELECT pc.probe_id, a.vec_id, a.cell, $adcSum AS adc
                 FROM assigned a
                   JOIN pc ON a.cell = pc.cell
                   JOIN cd ON cd.vec_id = a.vec_id
                   $codeJoins
                 WHERE a.vec_id <> pc.probe_id
                 QUALIFY row_number() OVER (PARTITION BY pc.probe_id ORDER BY adc, a.vec_id) <= 10),
               rr AS (
                 SELECT cand.probe_id, cand.vec_id, cand.cell, cand.adc,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p.p_e", "nz.emb"), "p.p_nsq", "nz.nsq")}", 4)} AS sim
                 FROM cand JOIN nz ON nz.vec_id = cand.vec_id
                   JOIN pp p ON p.probe_id = cand.probe_id)
               SELECT probe_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank,
                 vec_id, cell, ${Num.froundSql("adc", 4)} AS adc, sim
               FROM rr
               QUALIFY rank <= 3
               ORDER BY probe_id, rank"""
      },
    )

  // ---------------------------------------------------------------------
  // q184: binary quantization (1 bit/dim) + Hamming search + exact
  // re-rank — the coarsest point on the quantization curve (SQ int8
  // q71/q72 → PQ q150/q151 → binary), the memory layout vector stores
  // ship as "BQ"/"RaBitQ-style" compression. Reference scope: the
  // reference's ANN surface is exact cosine over float vectors
  // (transformer_loader/main.py embedding search); the quantized tiers
  // are the scale path this engine adds.

  /** Sign-bit codes packed into two BIGINT halves (dims 0–31 → `lo`,
    * 32–63 → `hi`; bit i of a half = 1 iff the coordinate is > 0).
    * 64 dims collapse to 16 bytes — a 16× smaller scan than the float
    * corpus, and Hamming distance is two XOR+popcounts. Plan-literal
    * sums of 64 codegen'd CASEs (the q142/q132 stance: no HOF lambda
    * in a corpus scan); the halves stay < 2^32 so BIGINT addition
    * never overflows in either engine (DuckDB CHECKS overflow; a
    * single 64-bit pack would trap on bit 63). Sign of NaN/±Inf
    * agrees cross-engine (NaN > 0 is TRUE in both — Spark's
    * NaN-largest ordering, DuckDB's IEEE-NaN-greatest), so the
    * float-cosine family's no-finite-filter stance carries over;
    * a zero-norm vector packs to (0, 0) and its re-rank sim is the
    * guarded 0. Staged as the stored `bq64` artifact: serving scans
    * (vec_id, lo, hi) ONLY — the float payload is fetched for the
    * bounded re-rank set alone. */
  private[graft] def bqBuild(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    def half(off: Int) = (0 until 32).map { i =>
      when(col("embedding").getItem(off + i).cast("double") > 0d,
        lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
    corpus(s, dir).select(col("vec_id"), col("embedding"), col("nsq"),
      half(0).as("lo"), half(32).as("hi"))
  }

  /** DuckDB mirror of one [[bqBuild]] half (1-based list indexing). */
  private def bqHalfSql(emb: String, off: Int): String =
    (0 until 32).map { i =>
      s"(CASE WHEN ($emb)[${off + i + 1}]::DOUBLE > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** The staged `bq64` code table (vec_id, embedding, nsq, lo, hi). */
  private def bq64(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.operators.Staged.parquet(s, s"bq64|$dir")(bqBuild(s, dir))

  /** Hamming distance of a row's code (lo, hi) to its probe's (p_lo,
    * p_hi): two XOR+popcounts. */
  private def hamming = expr("cast(bit_count(lo ^ p_lo) + bit_count(hi ^ p_hi) as int)")

  /** Exact top-20 ground truth of the BQ family (probes vec_id <
    * N_PROBES over the `bq64` corpus), staged per input dir: the recall
    * ground truth a deployment materializes NEXT TO its index instead
    * of recomputing per query. Every oracle still derives its own exact
    * CTE independently, so the staging is cross-checked by four hash
    * differentials. */
  private def bqExact20(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.operators.Staged.parquet(s, s"bqx20|$dir") {
      graft.functions.DotProductF.register(s)
      val c = bq64(s, dir)
      val probes = c.filter(col("vec_id") < N_PROBES)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
          col("nsq").as("p_nsq"))
      Clustering.exactTop20(c.select(col("vec_id"), col("embedding"), col("nsq")), probes)
    }

  /** q184/q191's full-scan candidates: every code row x the broadcast
    * probe codes, Hamming-scored — a 16-byte scan per row. */
  private def bqFullScan(c: DataFrame): DataFrame = {
    val probes = c.filter(col("vec_id") < N_PROBES)
      .select(col("vec_id").as("probe_id"), col("lo").as("p_lo"),
        col("hi").as("p_hi"), col("embedding").as("p_emb"),
        col("nsq").as("p_nsq"))
    c.select(col("vec_id"), col("lo"), col("hi"))
      .crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("ham", hamming)
  }

  private lazy val BinaryQuantDef: QueryDef = QueryDef(
    // 100 TB shape: the Hamming stage streams the 16-byte code table
    // (column-pruned off the staged artifact — ReadSchema is
    // vec_id/lo/hi) against 8 broadcast probe codes; WindowGroupLimit
    // trims to BqC per probe map-side before the single bounded
    // exchange, and only the ≤ probes×BqC re-rank rows ever touch the
    // float payload (explicit broadcast, corpus streams). The same
    // composability as q154: at real scale the code scan nests inside
    // an IVF cell filter; the contract here is the code path itself.
    "q184_ann_binary_hamming",
    (s, dir) => {
      graft.functions.DotProductF.register(s)
      val c = bq64(s, dir)
      // exact harness (the q174 stance): each served result is flagged
      // against the true top-20 — recall is measurable in the OUTPUT,
      // cross-engine
      Clustering.flagHits(rerank(bqFullScan(c), "ham", c, k = 8)(BqC), bqExact20(s, dir),
        col("probe_id"), col("rank"), col("vec_id"), col("ham"), col("sim"))
        .orderBy(col("probe_id"), col("rank"))
    },
    Some(s"""WITH c AS (
               SELECT vec_id, embedding::DOUBLE[] AS emb,
                 ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
                 ${bqHalfSql("embedding", 0)} AS lo,
                 ${bqHalfSql("embedding", 32)} AS hi
               FROM ${VectorFns.embeddingsSql}),
             p AS (
               SELECT vec_id AS probe_id, lo AS p_lo, hi AS p_hi,
                 emb AS p_emb, nsq AS p_nsq
               FROM c WHERE vec_id < $N_PROBES),
             cand AS (
               SELECT p.probe_id, c.vec_id, c.emb, c.nsq, p.p_emb, p.p_nsq,
                 (bit_count(xor(c.lo, p.p_lo)) + bit_count(xor(c.hi, p.p_hi)))::INT AS ham
               FROM c CROSS JOIN p
               WHERE c.vec_id <> p.probe_id
               QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY ham, c.vec_id) <= $BqC),
             rr AS (
               SELECT probe_id, vec_id, ham,
                 ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
               FROM cand),
             served AS (
               SELECT probe_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank,
                 vec_id, ham, sim
               FROM rr
               QUALIFY rank <= 8),
             exact AS (
               SELECT p.probe_id, c.vec_id
               FROM c CROSS JOIN p
               WHERE c.vec_id <> p.probe_id
               QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY
                 ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p.p_emb", "c.emb"), "p.p_nsq", "c.nsq")}", 4)} DESC,
                 c.vec_id) <= 20)
             SELECT s.probe_id, s.rank, s.vec_id, s.ham, s.sim,
               (CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END) AS hit
             FROM served s LEFT JOIN exact e
               ON s.probe_id = e.probe_id AND s.vec_id = e.vec_id
             ORDER BY s.probe_id, s.rank"""),
  )

  // q191: the BQ oversampling curve — q184's scaladoc carries the
  // measured recall@8 band as prose; this makes the knob a MEASURED
  // ARTIFACT the way q182 did for beam width: the same Hamming scan at
  // C = 16 / 64 / 256, each re-ranked top-8 and scored against ONE
  // shared exact top-20 harness, one row per width. The operational
  // claim a deployment tunes on: hits rise monotonically with C at
  // the same 16-byte scan cost (only the re-rank set grows).
  /** The q191 oversampling sweep with PARAMETRIC widths: one Hamming
    * ranking, re-ranked top-8 at each width and scored against the
    * staged exact top-20, one (c_width, results, hits) row per width.
    * q191 serves it at 16/64/256; `Probe knob` chases the C knob past
    * those widths through the same code, so q191's oracle covers
    * every piece of it. */
  private[graft] def bqSweep(s: org.apache.spark.sql.SparkSession,
      dir: String, widths: Seq[Int]): DataFrame = {
    graft.functions.DotProductF.register(s)
    val c = bq64(s, dir)
    val atWidth = rerank(bqFullScan(c), "ham", c, k = 8)
    val exact = bqExact20(s, dir)
    widths.map { cWidth =>
      Clustering.hitTotals(atWidth(cWidth), exact, "results")
        .select(lit(cWidth.toLong).as("c_width"), col("results"), col("hits"))
    }.reduce(_.unionByName(_)).orderBy(col("c_width"))
  }

  private lazy val BqSweepDef: QueryDef = QueryDef(
    "q191_ann_bq_sweep",
    (s, dir) =>
      bqSweep(s, dir, Seq(16, 64, 256))
        .select(col("c_width"), col("results"), col("hits"),
          Num.fround(col("hits").cast("double") / col("results"), 4).as("precision")),
    Some {
      def chain(cWidth: Int) =
        s"""cand$cWidth AS (
             SELECT probe_id, vec_id, emb, nsq, p_emb, p_nsq FROM scan
             WHERE crank <= $cWidth),
           rr$cWidth AS (
             SELECT probe_id, vec_id,
               ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
             FROM cand$cWidth),
           srv$cWidth AS (
             SELECT probe_id, vec_id FROM rr$cWidth
             QUALIFY row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id) <= 8),
           row$cWidth AS (
             SELECT ${cWidth}::BIGINT AS c_width, count(*)::BIGINT AS results,
               sum(CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END)::BIGINT AS hits
             FROM srv$cWidth s LEFT JOIN exact e
               ON s.probe_id = e.probe_id AND s.vec_id = e.vec_id)"""
      s"""WITH c AS (
             SELECT vec_id, embedding::DOUBLE[] AS emb,
               ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
               ${bqHalfSql("embedding", 0)} AS lo,
               ${bqHalfSql("embedding", 32)} AS hi
             FROM ${VectorFns.embeddingsSql}),
           p AS (
             SELECT vec_id AS probe_id, lo AS p_lo, hi AS p_hi,
               emb AS p_emb, nsq AS p_nsq
             FROM c WHERE vec_id < $N_PROBES),
           scan AS MATERIALIZED (
             SELECT p.probe_id, c.vec_id, c.emb, c.nsq, p.p_emb, p.p_nsq,
               row_number() OVER (PARTITION BY p.probe_id ORDER BY
                 bit_count(xor(c.lo, p.p_lo)) + bit_count(xor(c.hi, p.p_hi)),
                 c.vec_id) AS crank
             FROM c CROSS JOIN p
             WHERE c.vec_id <> p.probe_id),
           exact AS MATERIALIZED (
             SELECT p.probe_id, c.vec_id
             FROM c CROSS JOIN p
             WHERE c.vec_id <> p.probe_id
             QUALIFY row_number() OVER (PARTITION BY p.probe_id ORDER BY
               ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p.p_emb", "c.emb"), "p.p_nsq", "c.nsq")}", 4)} DESC,
               c.vec_id) <= 20),
           ${chain(16)},
           ${chain(64)},
           ${chain(256)}
           SELECT c_width, results, hits,
             ${Num.froundSql("hits::DOUBLE / results", 4)} AS precision
           FROM (SELECT * FROM row16 UNION ALL
                 SELECT * FROM row64 UNION ALL
                 SELECT * FROM row256)
           ORDER BY c_width"""
    },
  )

  // q187: IVF × BQ — the composition q184's scaladoc promises. q184
  // proves the code path against a FULL-corpus Hamming scan; a real
  // 100 TB deployment never scans the full code table — it prunes to
  // the probe's nprobe Voronoi cells first (the q53/q103 coarse
  // quantizer) and runs the 16-byte Hamming kernel only inside them.
  // Same composition as q103 (IVF×SQ) and q154 (IVF+PQ) with the
  // third quantizer tier: the serving index is STAGED
  // STORAGE-PARTITIONED BY CELL (probe cells become a partition-pruned
  // directory read), candidates Hamming-rank inside the probed cells,
  // and only the bounded re-rank set touches the float payload. Each
  // served row carries the q184-style exact-harness `hit` flag, so the
  // recall cell pruning costs (or here GAINS — the C=64 oversampling
  // budget covers two cells more densely than the whole corpus:
  // measured 59/64 at sf0.001 vs q184's full-scan 51/64) is a
  // measured output with a spec floor, at every SF and on the
  // adversarial fixture.
  // q187/q201 share ONE builder (round 16, VERDICT r15 #2): the r15
  // IVF×BQ sweep proved the deployment knob under composition is
  // nprobe, not C — nprobe=2 plateaus at 42/64 recall no matter the
  // oversampling width (the true top-20 mass inside two cells), while
  // nprobe=4 at C=256 restores 60/64. q187 keeps the historical
  // nprobe=2/C=64 face (the pruning-cost measurement); q201 registers
  // the operating point a deployment would actually pick, so the
  // tuned config is itself oracle-checked and benched, not only
  // probed. Both faces serve from the SAME staged artifacts
  // (`bq64|dir`, `ivfbq_idx|dir`) — the knob is serve-time only,
  // exactly the property that makes it a deployment knob.
  /** q187/q201's served rows at (nprobe, C), each flagged against the
    * shared exact top-20 (the harness is the measurement, not the
    * serving plan). `Probe knob` sweeps (nprobe, C) past the registered
    * points through this builder. */
  private[graft] def ivfBqServed(s: org.apache.spark.sql.SparkSession, dir: String,
      nprobe: Int, cWidth: Int): DataFrame = {
    graft.functions.DotProductF.register(s)
    val bq = bq64(s, dir)
      .select(col("vec_id"), col("embedding"), col("nsq"), col("lo"), col("hi"))
    // Centroids from the SAME well-formed corpus as the codes (the
    // oracle's cents CTE reads the same hygienic relation).
    val cents = ivfCentsOf(bq)
    val index = graft.operators.Staged.partitionedParquet(
      s, s"ivfbq_idx|$dir", "cell") {
      ivfAssign(bq, cents, Seq("lo", "hi", "embedding", "nsq"))
    }
    val probeCells = routeProbes(bq.filter(col("vec_id") < N_PROBES), cents, nprobe,
      "lo" -> "p_lo", "hi" -> "p_hi", "embedding" -> "p_emb", "nsq" -> "p_nsq")
    val cellIndex = probedCells(index, probeCells)
    val cands = scanCells(cellIndex.select(col("vec_id"), col("cell"), col("lo"), col("hi")),
        probeCells)
      .withColumn("ham", hamming)
    Clustering.flagHits(rerank(cands, "ham", cellIndex, k = 8)(cWidth), bqExact20(s, dir),
      col("probe_id"), col("rank"), col("vec_id"), col("cell"), col("ham"), col("sim"))
      .orderBy(col("probe_id"), col("rank"))
  }

  private def ivfBqQueryDef(name: String, nprobe: Int, cWidth: Int): QueryDef = QueryDef(
    name,
    (s, dir) => ivfBqServed(s, dir, nprobe, cWidth),
    Some(s"""WITH c AS (
               SELECT vec_id, embedding::DOUBLE[] AS emb,
                 ${VectorFns.normSqSql("embedding::DOUBLE[]")} AS nsq,
                 ${bqHalfSql("embedding", 0)} AS lo,
                 ${bqHalfSql("embedding", 32)} AS hi
               FROM ${VectorFns.embeddingsSql}),
             cents AS (SELECT vec_id AS cid, emb AS c_emb, nsq AS c_nsq FROM c
                       WHERE vec_id % greatest(97, (SELECT count(*) FROM c) // $IVF_K) = 0),
             assigned AS (
               SELECT vec_id, emb, nsq, lo, hi, cid AS cell FROM (
                 SELECT c.vec_id, c.emb, c.nsq, c.lo, c.hi, cents.cid,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                 FROM c CROSS JOIN cents)
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) = 1),
             pc AS (
               SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq,
                      lo AS p_lo, hi AS p_hi, cid AS cell FROM (
                 SELECT c.vec_id, c.emb, c.nsq, c.lo, c.hi, cents.cid,
                   ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("c_emb", "emb"), "c_nsq", "nsq")}", 6)} AS cent_sim
                 FROM c CROSS JOIN cents
                 WHERE c.vec_id < $N_PROBES)
               QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY cent_sim DESC, cid) <= $nprobe),
             cand AS (
               SELECT pc.probe_id, a.vec_id, a.cell, a.emb, a.nsq, pc.p_emb, pc.p_nsq,
                 (bit_count(xor(a.lo, pc.p_lo)) + bit_count(xor(a.hi, pc.p_hi)))::INT AS ham
               FROM assigned a JOIN pc ON a.cell = pc.cell AND a.vec_id <> pc.probe_id
               QUALIFY row_number() OVER (PARTITION BY pc.probe_id ORDER BY ham, a.vec_id) <= $cWidth),
             rr AS (
               SELECT probe_id, vec_id, cell, ham,
                 ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("p_emb", "emb"), "p_nsq", "nsq")}", 4)} AS sim
               FROM cand),
             pfull AS (
               SELECT vec_id AS probe_id, emb AS p_emb, nsq AS p_nsq
               FROM c WHERE vec_id < $N_PROBES),
             exact AS (
               SELECT pfull.probe_id, c.vec_id
               FROM c CROSS JOIN pfull
               WHERE c.vec_id <> pfull.probe_id
               QUALIFY row_number() OVER (PARTITION BY pfull.probe_id ORDER BY
                 ${Num.froundSql(s"${VectorFns.cosineSql(VectorFns.dotSql("pfull.p_emb", "c.emb"), "pfull.p_nsq", "c.nsq")}", 4)} DESC,
                 c.vec_id) <= 20),
             srv AS (
               SELECT probe_id,
                 row_number() OVER (PARTITION BY probe_id ORDER BY sim DESC, vec_id)::BIGINT AS rank,
                 vec_id, cell, ham, sim
               FROM rr
               QUALIFY rank <= 8)
             SELECT s.probe_id, s.rank, s.vec_id, s.cell, s.ham, s.sim,
               (CASE WHEN e.vec_id IS NULL THEN 0 ELSE 1 END) AS hit
             FROM srv s LEFT JOIN exact e
               ON s.probe_id = e.probe_id AND s.vec_id = e.vec_id
             ORDER BY s.probe_id, s.rank"""),
  )

  private lazy val IvfBqDef: QueryDef =
    ivfBqQueryDef("q187_ann_ivf_bq", nprobe = 2, cWidth = BqC)

  /** The measured operating point (r15 sweep: nprobe=4/C=256 →
    * 60/64 at sf0.1 vs the nprobe=2 plateau at 42/64). */
  private lazy val IvfBqTunedDef: QueryDef =
    ivfBqQueryDef("q201_ann_ivf_bq_tuned", nprobe = 4, cWidth = 256)
}
