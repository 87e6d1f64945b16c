package graft

import org.apache.spark.sql.functions._

/** Structural invariants of the embedding-clustering family (q85-q87)
  * beyond the DuckDB value differential: Lloyd-assignment optimality,
  * SemDeDup keep-set laws, and the LM score's probability-space
  * bounds. */
class ClusteringSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"
  private def q(name: String) = SparkEntry.queries(name)(spark, sfDir)

  test("q85 assigns every vector exactly once, to a member-seeded cluster") {
    val out = q("q85_kmeans_assign").persist()
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.count() == n, "every vector assigned")
    assert(out.select("vec_id").distinct().count() == n, "exactly once")
    // Fine cluster ids are seed vec_ids — members of the corpus —
    // and distances are non-negative.
    val ids = Tables.embeddings(spark, sfDir).select(col("vec_id").as("cluster_id"))
    assert(out.select("cluster_id").distinct()
      .join(ids, Seq("cluster_id"), "left_anti").count() == 0,
      "cluster id that is not a corpus vec_id")
    assert(out.filter(col("dist") < 0).count() == 0)
    assert(out.select("cluster_id").distinct().count() > 1,
      "degenerate single-cluster result")
    out.unpersist()
  }

  /** Pure-Scala rerun of the exact HIERARCHICAL algorithm — coarse:
    * constant k=8 cells trained on the m-modulus sample (m =
    * n/(8·32)), one 6dp-rounded mean update, full-corpus assignment;
    * fine: per cell, kc = ceil(cell_n/150) smallest-vec_id seeds →
    * assign → 6dp-rounded update → assign — agreeing with the Spark
    * chain on every cluster and 4dp distance. An independent
    * implementation of both Lloyd levels AND the two boundedness
    * contracts (constant coarse k, derived fine kc). */
  private def hierCheck(dir: String): Unit = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("e"))
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getSeq[Double](1)).sortBy(_._1)
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def argmin(e: Seq[Double], cents: Seq[(Long, Seq[Double])]) =
      cents.map { case (cid, c) => (d2(e, c), cid) }.min
    def roundedMeans(assigned: Seq[(Long, Seq[Double], Long)]): Seq[(Long, Seq[Double])] =
      assigned.groupBy(_._3).map { case (cid, rs) =>
        cid -> (0 until 64).map(i =>
          math.floor(rs.map(_._2(i)).sum / rs.size * 1e6 + 0.5) / 1e6)
      }.toSeq.sortBy(_._1)
    // Coarse level (the q97 contract: constant k, constant sample).
    val k = 8L
    val m = math.max(1L, emb.length.toLong / (k * 32))
    val sample = emb.filter(_._1 % m == 0)
    val seeds = sample.filter(_._1 < k * m).toSeq
    val c1 = roundedMeans(sample.map { case (id, e) => (id, e, argmin(e, seeds)._2) })
    val cells = emb.map { case (id, e) => (id, e, argmin(e, c1)._2) }
    // Fine level: per-cell derived-kc local Lloyd.
    val expect = cells.groupBy(_._3).toSeq.flatMap { case (_, members0) =>
      val members = members0.sortBy(_._1)
      val kc = math.max(1L, math.ceil(members.size / 150.0).toLong)
      val fseeds = members.take(kc.toInt).map(r => r._1 -> r._2).toSeq
      val fc1 = roundedMeans(members.map { case (id, e, _) => (id, e, argmin(e, fseeds)._2) })
      members.map { case (id, e, _) =>
        val (d, fcid) = argmin(e, fc1)
        (id, fcid, math.floor(d * 1e4 + 0.5) / 1e4)
      }
    }.toSet
    val got = SparkEntry.queries("q85_kmeans_assign")(spark, dir).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Double]("dist"))).toSet
    assert(got == expect,
      s"only-spark: ${got.diff(expect)}; only-local: ${expect.diff(got)}")
  }

  test("q85 matches an independent driver-side hierarchical-Lloyd reimplementation") {
    hierCheck(sfDir) // 500 vectors → 8 cells, kc=1 per cell
  }

  test("q85 derived-kc path: sf0.1's 2000 vectors split cells (kc>1), still Lloyd-exact") {
    hierCheck("/root/testdata/sf0.1")
  }

  test("a hierarchical build written once leaves no cached blocks") {
    // The build is staged (parquet, off-heap); a persist inside it
    // would stay registered with the CacheManager after the stage is
    // written, and nothing reads it again.
    spark.catalog.clearCache()
    graft.queries.Clustering.hierBuild(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    assert(spark.sharedState.cacheManager.isEmpty,
      "the hierarchical build left cached data behind")
  }

  test("a repeated hierarchical build reuses its generated classes") {
    // BenchSession sizes the JVM's generated-class cache above a build's
    // working set (about 108 classes); at Spark's default of 100 entries
    // the second build evicted and recompiled 48-66 of them. AQE is off
    // here because it re-plans in stage-completion order, so a repeated
    // build sometimes generates 6 new stage classes; with a fixed plan
    // every compile of the second build is a cache miss.
    def build(): Unit = graft.queries.Clustering.hierBuild(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      build()
      val compiles0 = Bench.codegenTotals()._1
      build()
      val recompiled = Bench.codegenTotals()._1 - compiles0
      info(s"the second build compiled $recompiled classes")
      assert(recompiled <= 5, s"the second build compiled $recompiled classes")
    } finally spark.conf.set(aqe, saved)
  }

  test("hierarchical clustering: plan-literal/driver centroid state is corpus-independent; cluster count is not") {
    // The plan may carry ONLY the constant coarse centroids as
    // literals (MinK sqdist_f calls against literal arrays); the fine
    // level's centroids live in a joined DataFrame. A 4× corpus must
    // therefore leave the literal count unchanged — while the FINE
    // cluster count (bounded cluster size) must grow with it.
    def sqdistLits(dir: String): Int =
      "sqdist_f".r.findAllIn(
        graft.queries.Clustering.hierBuild(spark, dir)
          .queryExecution.optimizedPlan.toString).size
    val small = sqdistLits(sfDir)               // 500 vectors
    val big = sqdistLits("/root/testdata/sf0.1") // 2000 vectors
    assert(small == big,
      s"plan centroid state grew with the corpus: $small (sf0.001) vs $big (sf0.1)")
    val clustersSmall = q("q85_kmeans_assign").select("cluster_id").distinct().count()
    val clustersBig = SparkEntry.queries("q85_kmeans_assign")(spark, "/root/testdata/sf0.1")
      .select("cluster_id").distinct().count()
    assert(clustersBig > clustersSmall,
      s"fine cluster count must track the corpus: $clustersSmall vs $clustersBig")
    // And the bounded-cluster-size contract holds where cells split.
    val maxSize = SparkEntry.queries("q85_kmeans_assign")(spark, "/root/testdata/sf0.1")
      .groupBy("cluster_id").count().agg(max("count")).first().getLong(0)
    assert(maxSize <= 2 * 150,
      s"fine cluster size $maxSize exceeds 2x the 150 target")
  }

  test("q97 two-level: constant-size training sample, seeds are sampled ids, full corpus assigned") {
    val dir = "/root/testdata/sf0.1" // 2000 vectors → m=7: training genuinely samples
    val out = SparkEntry.queries("q97_kmeans_twolevel")(spark, dir).persist()
    val n = Tables.embeddings(spark, dir).count()
    assert(out.count() == n, "every vector assigned")
    assert(out.select("vec_id").distinct().count() == n, "exactly once")
    // Cluster ids are the k smallest SAMPLED ids: multiples of m below k*m.
    val m = math.max(1L, n / (8 * 32))
    val cids = out.select("cluster_id").distinct().collect().map(_.getAs[Long]("cluster_id"))
    assert(cids.forall(c => c % m == 0 && c < 8 * m), s"non-seed cluster id in ${cids.toSeq}")
    assert(cids.length > 1, "degenerate single-cluster result")
    out.unpersist()
  }

  test("q86 dedup drops exactly the dominated vectors and keeps all cluster minima") {
    val out = q("q86_semantic_dedup").persist()
    val assigns = q("q85_kmeans_assign")
    // Same universe and clusters as q85.
    assert(out.count() == assigns.count())
    assert(out.join(assigns, Seq("vec_id"))
      .filter(out("cluster_id") =!= assigns("cluster_id")).count() == 0,
      "q86 must reuse q85's clustering")
    // The lowest vec_id of every cluster can never be dominated.
    val minPerCluster = out.groupBy("cluster_id").agg(min("vec_id").as("vec_id"))
    assert(out.join(minPerCluster, Seq("cluster_id", "vec_id"))
      .filter(!col("keep")).count() == 0, "cluster-minimum vec dropped")
    out.unpersist()
  }

  test("q87 scores are positive and bounded by the rarest-token NLL") {
    val out = q("q87_unigram_lm_score").persist()
    val docs = Tables.documents(spark, sfDir)
    assert(out.count() == docs.count(), "every doc scored")
    // p(w) <= 1 => -ln p >= 0; and mean NLL can't exceed ln(N) (the
    // NLL of a hapax), N = corpus token count.
    val nTok = docs.select(sum(size(split(col("text"), " ")))).first().getLong(0)
    val maxNll = math.log(nTok.toDouble)
    assert(out.filter(col("avg_nll") < 0).count() == 0)
    // 5e-5 headroom: the query's 4dp fround can round a mean sitting
    // just under ln(N) up past it.
    assert(out.filter(col("avg_nll") > maxNll + 5e-5).count() == 0,
      s"avg_nll above ln(N)=$maxNll")
    // Token counts match an independent recount.
    val recount = docs.select(col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n2"))
    assert(out.join(recount, "doc_id")
      .filter(col("n_tokens") =!= col("n2")).count() == 0)
    out.unpersist()
  }

  test("q89 cluster sample: <=16 per cluster, dense ranks, distance-monotone, q85-consistent") {
    val out = SparkEntry.queries("q89_cluster_sample")(spark, sfDir).persist()
    val per = out.groupBy("cluster_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
    assert(per.filter(col("n") > 16 || col("lo") =!= 1 || col("hi") =!= col("n"))
      .count() == 0, "rank gap or oversized sample")
    // Distance never decreases as rank increases (4dp rounding can
    // only make neighbors equal, never invert by more than 1e-4).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("rank"))
    assert(out.withColumn("prev", lag(col("dist"), 1).over(w))
      .filter(col("prev").isNotNull && col("dist") < col("prev") - 1e-4)
      .count() == 0, "distance not monotone in rank")
    // Sampled members carry their q85 cluster.
    val assigns = q("q85_kmeans_assign")
    assert(out.join(assigns, Seq("vec_id"))
      .filter(out("cluster_id") =!= assigns("cluster_id")).count() == 0)
    out.unpersist()
  }

  test("q90 pagerank: mass conserved, floor respected, degree matches the pair graph") {
    val out = SparkEntry.queries("q90_neardup_pagerank")(spark, sfDir).persist()
    val n = out.count()
    assert(n > 0, "near-dup graph is empty — pagerank vacuous")
    // No dangling nodes in a symmetric graph => total mass stays 1
    // (up to n * the 8dp rounding).
    val mass = out.agg(sum("pagerank")).first().getDouble(0)
    assert(math.abs(mass - 1.0) <= n * 5e-9 + 1e-9, s"mass $mass != 1")
    // Every rank >= the damping floor 0.15/N.
    assert(out.filter(col("pagerank") < lit(0.15) / lit(n.toDouble) - 5e-9)
      .count() == 0, "rank below damping floor")
    assert(out.filter(col("deg") < 1).count() == 0)
    out.unpersist()
  }

  test("q88 SCD2 intervals: dense versions, one open row, contiguous, compressed") {
    val out = SparkEntry.queries("q88_scd2_intervals")(spark, sfDir).persist()
    // Exactly one open (current) interval per customer.
    val open = out.filter(col("is_current"))
      .groupBy("o_custkey").count().filter(col("count") =!= 1)
    assert(open.count() == 0, "customer without exactly one current row")
    // Versions are dense 1..n per customer.
    val dense = out.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), min("version").as("lo"), max("version").as("hi"))
      .filter(col("lo") =!= 1 || col("hi") =!= col("n"))
    assert(dense.count() == 0, "version gap")
    // Contiguity: valid_to equals the NEXT version's valid_from; and
    // adjacent versions really changed priority (compression law).
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("version"))
    val chained = out
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("next_prio", lead(col("prio"), 1).over(w))
    assert(chained.filter(col("next_from").isNotNull &&
      col("valid_to") =!= col("next_from")).count() == 0, "interval gap/overlap")
    assert(chained.filter(col("next_prio").isNotNull &&
      col("prio") === col("next_prio")).count() == 0, "uncompressed adjacent versions")
    out.unpersist()
  }

  test("q174 graph search: shape laws, hit-prefix law, non-vacuous navigation") {
    val out = SparkEntry.queries("q174_ann_graph_search")(spark, "/root/testdata/sf0.001")
      .collect()
    // 8 probes x top-8 found, dense ranks, sims non-increasing
    assert(out.length == 64, s"got ${out.length} rows")
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.size == 8)
    byProbe.foreach { case (pid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 8L), s"probe $pid ranks not dense")
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $pid found sims not ranked: $sims")
      // hit = membership in the exact top-20 = a per-probe sim cutoff,
      // so hits must form a PREFIX of the ranked list: no hit=1 row may
      // sit strictly below a hit=0 row
      val hitSims = sorted.filter(_.getInt(4) == 1).map(_.getDouble(3)).toSeq
      val missSims = sorted.filter(_.getInt(4) == 0).map(_.getDouble(3)).toSeq
      val minHitSim = if (hitSims.isEmpty) Double.NegativeInfinity else hitSims.min
      val maxMissSim = if (missSims.isEmpty) Double.NegativeInfinity else missSims.max
      assert(hitSims.isEmpty || missSims.isEmpty || minHitSim >= maxMissSim,
        s"probe $pid: hit=1 at sim $minHitSim below a hit=0 at $maxMissSim")
    }
    // non-vacuity (q151 lesson: measured before pinning — 19 hits at
    // sf0.001, 17 at sf0.01, 14 at sf0.1): the walk must land a
    // meaningful share of its head picks in the global top-4%
    val hits = out.map(_.getInt(4)).sum
    assert(hits >= 5, s"graph walk degenerated: only $hits/64 head hits")
  }

  test("q175 delta attach: provenance exact, deltas reachable, base graph delta-free") {
    val out = SparkEntry.queries("q175_ann_graph_delta")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.nonEmpty)
    // provenance is analytic: delta iff an endpoint is a delta id
    out.foreach { case (va, vb, batch) =>
      val expected = if (va % 10 == 0 || vb % 10 == 0) "delta" else "base"
      assert(batch == expected, s"($va,$vb) tagged $batch, expected $expected")
    }
    val base = out.filter(_._3 == "base")
    val delta = out.filter(_._3 == "delta")
    assert(base.nonEmpty && delta.nonEmpty, "both regimes must be non-empty")
    // no duplicate edges across the merged structure
    assert(out.distinct.length == out.length, "duplicate edges in merged graph")
    // every delta vector is REACHABLE (has in-edges) and can EXIT
    // (out-edges): the whole point of the in-link attach rule. Holds
    // whenever a delta's cluster has >= 1 base mate — true for every
    // delta at the test SFs (asserted, not assumed).
    val deltaIds = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .filter(org.apache.spark.sql.functions.col("vec_id") % 10 === 0)
      .collect().map(_.getLong(0))
    val outDeg = delta.groupBy(_._1).view.mapValues(_.size).toMap
    val inDeg = delta.groupBy(_._2).view.mapValues(_.size).toMap
    deltaIds.foreach { d =>
      assert(outDeg.getOrElse(d, 0) > 0, s"delta $d has no out-edges")
      assert(inDeg.getOrElse(d, 0) > 0, s"delta $d unreachable (no in-edges)")
    }
    // nothing about the base subgraph may touch a delta id (the
    // frozen-index contract: base edges are exactly the base build)
    assert(base.forall { case (va, vb, _) => va % 10 != 0 && vb % 10 != 0 })
  }

  test("q176 maintained-index serving: delta probes, shape laws, non-vacuous hits") {
    val out = SparkEntry.queries("q176_ann_graph_serve_delta")(spark, "/root/testdata/sf0.001")
      .collect()
    // probes are the first 8 DELTA ids (0,10,...,70), top-8 each
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 80L by 10L).toSet,
      s"probe set ${byProbe.keySet}")
    assert(out.length == 64, s"got ${out.length} rows")
    byProbe.foreach { case (pid, rows) =>
      assert(pid % 10 == 0, s"non-delta probe $pid")
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 8L), s"probe $pid ranks not dense")
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $pid sims not ranked")
    }
    // search-after-maintenance non-vacuity: the frozen-entry walk over
    // base ∪ attach must still land head picks in the full-corpus
    // top-20 (measured 2025-08: 22 hits at sf0.001 — floor well below)
    val hits = out.map(_.getInt(4)).sum
    assert(hits >= 5, s"maintained-index walk degenerated: only $hits/64 hits")
  }

  test("q177 tombstone serving: no deleted results, dense live ranks, non-vacuous hits") {
    val out = SparkEntry.queries("q177_ann_graph_tombstone_serve")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // the lazy-delete contract: deleted vectors may ROUTE but never
    // appear in results
    out.foreach { r =>
      assert(r.getLong(2) % 7 != 3, s"tombstoned ${r.getLong(2)} served to probe ${r.getLong(0)}")
    }
    val byProbe = out.groupBy(_.getLong(0))
    // probes are the LIVE ids < 8 (vec_id 3 is tombstoned — a deleted
    // vector stops issuing queries, r12 advice)
    assert(byProbe.keySet == (0L until 8L).filter(_ % 7 != 3).toSet,
      s"probe set ${byProbe.keySet}")
    byProbe.foreach { case (pid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      // ranks dense over the LIVE results (mask applied before ranking)
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length.toLong),
        s"probe $pid ranks not dense after mask")
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $pid sims not ranked")
    }
    val hits = out.map(_.getInt(4)).sum
    assert(hits >= 5, s"post-delete walk degenerated: only $hits hits")
  }

  test("q179 compacted serving: live-only results, dense ranks, non-vacuous hits") {
    val out = SparkEntry.queries("q179_ann_graph_compacted_serve")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    // eager-delete contract: the compacted graph physically contains
    // no deleted node, so no mask is applied and none is needed
    out.foreach { r =>
      assert(r.getLong(2) % 7 != 3, s"deleted ${r.getLong(2)} served from compacted graph")
    }
    val byProbe = out.groupBy(_.getLong(0))
    // probes = live ids < 8 (vec_id 3 is deleted) — q177's probe set,
    // so the two hit counts compare lazy-mask vs eager-compaction
    assert(byProbe.keySet == (0L until 8L).filter(_ % 7 != 3).toSet,
      s"probe set ${byProbe.keySet}")
    byProbe.foreach { case (pid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to sorted.length.toLong),
        s"probe $pid ranks not dense")
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $pid sims not ranked")
    }
    // navigability preserved: the walk over the REPAIRED graph still
    // lands head picks in the live top-20
    val hits = out.map(_.getInt(4)).sum
    assert(hits >= 5, s"post-compaction walk degenerated: only $hits hits")
  }

  test("q180 re-insert: provenance disjoint, every re-inserted vector reachable") {
    val out = SparkEntry.queries("q180_ann_graph_reinsert")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val kinds = out.groupBy(_._3)
    assert(Set("kept", "repair", "reinsert").subsetOf(kinds.keySet),
      s"missing kinds: ${kinds.keySet}")
    // (va, vb) unique across the whole re-completed graph
    assert(out.map(e => (e._1, e._2)).distinct.length == out.length, "duplicate edges")
    // provenance is analytic: a reinsert edge touches a deleted id,
    // kept/repair edges never do (the compacted graph is dead-free)
    out.foreach { case (va, vb, kind) =>
      val touchesDeleted = va % 7 == 3 || vb % 7 == 3
      if (kind == "reinsert") assert(touchesDeleted, s"reinsert edge ($va,$vb) touches no deleted id")
      else assert(!touchesDeleted, s"$kind edge ($va,$vb) touches a deleted id")
    }
    // the update cycle restored reachability: every re-inserted
    // vector has out-edges (can search) and in-edges (can be found)
    val reinsert = kinds("reinsert")
    val deletedIds = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(org.apache.spark.sql.functions.col("vec_id"))
      .filter(org.apache.spark.sql.functions.col("vec_id") % 7 === 3)
      .collect().map(_.getLong(0))
    val outDeg = reinsert.groupBy(_._1).view.mapValues(_.size).toMap
    val inDeg = reinsert.groupBy(_._2).view.mapValues(_.size).toMap
    deletedIds.foreach { d =>
      assert(outDeg.getOrElse(d, 0) > 0, s"re-inserted $d has no out-edges")
      assert(inDeg.getOrElse(d, 0) > 0, s"re-inserted $d unreachable (no in-edges)")
    }
  }

  test("q181 serving after the update cycle: full probe set, re-inserted findable") {
    val out = SparkEntry.queries("q181_ann_graph_reinserted_serve")(spark, "/root/testdata/sf0.001")
      .collect()
    // vec_id 3 — deleted in q177, physically dropped in q178 — is
    // BACK as a probe after re-insertion: the full 8-probe set
    val byProbe = out.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 8L).toSet, s"probe set ${byProbe.keySet}")
    assert(out.length == 64, s"got ${out.length} rows")
    byProbe.foreach { case (pid, rows) =>
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to 8L), s"probe $pid ranks not dense")
      val sims = sorted.map(_.getDouble(3)).toSeq
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b },
        s"probe $pid sims not ranked")
    }
    // both directions of the restored index work: quality hits
    // (measured 2026-08: 23-34 of 64 across all SFs — floor well
    // below) and re-inserted vectors surfacing as results (measured
    // 8-13 rows)
    val hits = out.map(_.getInt(4)).sum
    assert(hits >= 5, s"post-update-cycle walk degenerated: only $hits/64 hits")
    assert(out.exists(_.getLong(2) % 7 == 3),
      "no re-inserted vector ever served as a result")
  }

  test("q182 beam sweep: shape laws, widest beam non-vacuous and not worse than narrowest") {
    val out = SparkEntry.queries("q182_ann_graph_beam_sweep")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(4L, 8L, 16L), s"beams ${out.map(_._1).toSeq}")
    // results per probe = min(8, beam) over the 8-probe set
    out.foreach { case (beam, n, hits, prec) =>
      assert(n == 8 * math.min(8L, beam), s"beam $beam served $n results")
      assert(hits >= 0 && hits <= n, s"beam $beam hits $hits out of range")
      assert(math.abs(prec - math.floor(hits.toDouble / n * 10000 + 0.5) / 10000) < 1e-12)
    }
    // the tuning curve's operational claim: the widest beam navigates
    // (measured 16-34 hits across SFs; floor well below) and beats
    // the narrowest (measured margins 5-13)
    val hitsBy = out.map(t => t._1 -> t._3).toMap
    assert(hitsBy(16L) >= 5, s"beam-16 walk degenerated: ${hitsBy(16L)} hits")
    assert(hitsBy(16L) >= hitsBy(4L),
      s"beam 16 (${hitsBy(16L)}) worse than beam 4 (${hitsBy(4L)})")
  }

  /** The r16 window form of the walk's beam cut (`lag` run boundary +
    * `dense_rank` top-b over `sim DESC, vec_id`) — the reference the
    * driver-side [[graft.queries.Clustering.beamCut]] must reproduce
    * row for row. */
  private def windowCut(scored: org.apache.spark.sql.DataFrame, b: Int) = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc, col("vec_id"))
    val wSim = Window.partitionBy(col("probe_id")).orderBy(col("sim").desc)
    scored
      .withColumn("du", lag(col("sim"), 1).over(w))
      .withColumn("rk", dense_rank().over(wSim))
      .filter(!(col("du") <=> col("sim")) && col("rk") <= b)
      .select(col("probe_id"), col("vec_id"), col("sim"))
  }

  private def cutKeys(rows: Seq[org.apache.spark.sql.Row]) =
    rows.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(r.getDouble(2).toString))).toSet

  /** A duplicate-heavy synthetic corpus: ids 1-5 are exact copies of
    * one vector (a tie group wider than the beam), 6-8 and 13-14 two
    * smaller copy groups, 9 the zero-norm vector (sim 0 by the cosine
    * guard, tied with the orthogonal 10), 11 the antipode; probes 100
    * and 101. Returns (nodesP, probes). */
  private def tiedCorpus() = {
    import spark.implicits._
    graft.functions.DotProductF.register(spark)
    val a = Array(1f, 0f, 0f, 0f)
    val vecs = Seq.fill(5)(a) ++ Seq.fill(3)(Array(0.6f, 0.8f, 0f, 0f)) ++
      Seq(Array(0f, 0f, 0f, 0f), Array(0f, 0f, 1f, 0f), Array(-1f, 0f, 0f, 0f),
        Array(0.2f, 0.1f, 0.3f, 0.9f)) ++ Seq.fill(2)(Array(0.8f, 0.6f, 0f, 0f))
    val nodesP = vecs.zipWithIndex.map { case (v, i) => (i + 1L, v) }
      .toDF("vec_id", "embedding")
      .withColumn("nsq", graft.functions.VectorFns.normSqF("embedding"))
    val probes = Seq((100L, a), (101L, Array(0f, 1f, 0f, 0f))).toDF("probe_id", "p_emb")
      .withColumn("p_nsq", graft.functions.VectorFns.normSqF("p_emb"))
    (nodesP, probes)
  }

  private val walkSim = graft.functions.Num.fround(
    graft.functions.VectorFns.cosine(graft.functions.VectorFns.dotF("p_emb", "embedding"),
      col("p_nsq"), col("nsq")), 4)

  test("beam cut: one minimum-vec_id row per sim level, top b levels, window-form reference") {
    val (nodesP, probes) = tiedCorpus()
    val scored = nodesP.crossJoin(probes)
      .select(col("probe_id"), col("vec_id"), walkSim.as("sim"))
    val rows = scored.collect().toSeq
    val b = 2
    val cut = graft.queries.Clustering.beamCut(rows, b)
    // the laws, per probe: the top b DISTINCT sims, each kept once, by
    // its minimum vec_id (probe 100's best level is the 5-copy group)
    val expected = rows.groupBy(_.getLong(0)).toSeq.flatMap { case (p, rs) =>
      rs.groupBy(_.getDouble(2)).toSeq.sortBy(-_._1).take(b).map { case (sm, lv) =>
        (p, lv.map(_.getLong(1)).min, Some(sm.toString))
      }
    }.toSet
    assert(cutKeys(cut) == expected, s"cut ${cutKeys(cut)} vs laws $expected")
    assert(cut.count(_.getLong(0) == 100L) == b &&
      cut.exists(r => r.getLong(0) == 100L && r.getLong(1) == 1L && r.getDouble(2) == 1.0))
    assert(cutKeys(cut) == cutKeys(windowCut(scored, b).collect().toSeq))
    // the zero-norm / orthogonal tie at sim 0 collapses to one row too
    val wide = graft.queries.Clustering.beamCut(rows, 16)
    assert(wide.filter(r => r.getLong(0) == 101L && r.getDouble(2) == 0.0)
      .map(_.getLong(1)) == Seq(1L))
    assert(cutKeys(wide) == cutKeys(windowCut(scored, 16).collect().toSeq))
    // Spark's DESC order at the edges: NaN first, nulls last, 0.0 and
    // -0.0 one level
    import spark.implicits._
    val edge = Seq[(Long, Long, Option[Double])](
      (1L, 7L, Some(Double.NaN)), (1L, 3L, Some(Double.NaN)), (1L, 4L, None),
      (1L, 2L, None), (1L, 9L, Some(0.0)), (1L, 5L, Some(-0.0)),
      (1L, 6L, Some(0.5)), (1L, 8L, Some(0.5)), (1L, 1L, Some(-1.0)),
      (2L, 3L, None), (2L, 1L, Some(0.25))).toDF("probe_id", "vec_id", "sim")
    Seq(1, 2, 3, 6).foreach { bb =>
      assert(cutKeys(graft.queries.Clustering.beamCut(edge.collect().toSeq, bb)) ==
        cutKeys(windowCut(edge, bb).collect().toSeq), s"b=$bb")
    }
  }

  test("driver-held beam walk equals the window-form walk on a duplicate-heavy graph") {
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val (nodesP, probes) = tiedCorpus()
    // from the antipode entry (11) the walk climbs 12 -> 6/7/14 -> the
    // 5-copy group, meeting sim ties at every hop; 99 is not a vector
    val g = Seq((11L, 9L), (11L, 10L), (11L, 12L), (9L, 10L), (10L, 12L),
      (12L, 6L), (12L, 7L), (12L, 14L), (6L, 1L), (6L, 8L), (7L, 4L),
      (14L, 13L), (14L, 3L), (13L, 2L), (1L, 5L), (2L, 3L), (3L, 11L),
      (4L, 5L), (5L, 12L), (8L, 9L), (99L, 1L), (10L, 99L)).toDF("va", "vb")
    val entries = Seq((100L, 11L), (100L, 9L), (101L, 11L), (101L, 100L)).toDF("probe_id", "vec_id")
    def score(cand: org.apache.spark.sql.DataFrame) = nodesP
      .join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(probes), Seq("probe_id"))
      .select(col("probe_id"), col("vec_id"), walkSim.as("sim"))
    Seq((2, 3), (3, 4), (16, 3)).foreach { case (b, hops) =>
      var beam = entries.filter(col("vec_id") =!= col("probe_id")).localCheckpoint(true)
      for (_ <- 1 to hops) {
        val expanded = g.join(beam, beam("vec_id") === g("va"))
          .select(col("probe_id"), col("vb").as("vec_id"))
        beam = windowCut(score(beam.unionByName(expanded)
            .filter(col("vec_id") =!= col("probe_id"))), b)
          .select(col("probe_id"), col("vec_id")).localCheckpoint(true)
      }
      val ref = cutKeys(score(beam).collect().toSeq)
      val got = cutKeys(graft.queries.Clustering
        .beamWalkScored(nodesP, g, probes, entries, b, hops).collect().toSeq)
      assert(got == ref, s"b=$b hops=$hops: walk $got vs reference $ref")
      // non-vacuous: the walk left its entries and reached the copies
      assert(got.contains((100L, 1L, Some("1.0"))), s"b=$b hops=$hops: $got")
      assert(got.exists(_._1 == 101L))
    }
  }

  test("q183 bitext mining matches an independent driver-side reimplementation") {
    val sfDir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q183_bitext_margin_mining")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(out.nonEmpty)
    // structural laws: src even, tgt odd, one mined pair per src,
    // every margin clears the mining threshold
    out.foreach { case (src, tgt, _, margin) =>
      assert(src % 2 == 0 && tgt % 2 == 1, s"parity violated ($src,$tgt)")
      assert(margin >= 1.0, s"margin $margin below threshold for $src")
    }
    assert(out.map(_._1).distinct.length == out.length, "duplicate src")

    // independent reimplementation: clusters from q85, vectors from
    // Tables.embeddings, the SAME left-to-right double accumulation
    // as VectorFns.dotF/normSq, fixed-order top-4 means, margins,
    // per-src argmax, 4dp threshold.
    import org.apache.spark.sql.functions.col
    val fcid = SparkEntry.queries("q85_kmeans_assign")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (na, nb) = (dot(a, a), dot(b, b))
      if (na == 0d || nb == 0d) 0d else dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
    }
    val byCluster = fcid.keys.filter(vecs.contains).groupBy(fcid)
    val pairs = byCluster.values.flatMap { ids =>
      val (srcs, tgts) = (ids.filter(_ % 2 == 0), ids.filter(_ % 2 == 1))
      for (a <- srcs; b <- tgts) yield (a, b, cos(vecs(a), vecs(b)))
    }.toSeq
    def topMean(grouped: Map[Long, Seq[(Long, Double)]]): Map[Long, Double] =
      grouped.map { case (k, vs) =>
        val top = vs.sortBy { case (o, s) => (-s, o) }.take(4).map(_._2)
        k -> top.foldLeft(0.0)(_ + _) / top.length
      }
    val favg = topMean(pairs.groupBy(_._1).view.mapValues(_.map(p => (p._2, p._3))).toMap)
    val bavg = topMean(pairs.groupBy(_._2).view.mapValues(_.map(p => (p._1, p._3))).toMap)
    def fr4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val expected = pairs
      .map { case (a, b, s) =>
        val den = (favg(a) + bavg(b)) / 2
        (a, b, s, if (den <= 0) 0.0 else s / den)
      }
      .groupBy(_._1).values
      .map(_.minBy { case (_, b, _, m) => (-m, b) })
      .filter { case (_, _, _, m) => fr4(m) >= 1.0 }
      .map { case (a, b, s, m) => (a, b, fr4(s), fr4(m)) }
      .toSet
    assert(out.toSet == expected,
      s"diverges: extra=${out.toSet -- expected} missing=${expected -- out.toSet}")
  }

  test("q178 compaction: dead-free, repair provenance exact, out-degree preserved") {
    val out = SparkEntry.queries("q178_ann_graph_compaction")(spark, "/root/testdata/sf0.001")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.nonEmpty)
    // the eager-delete contract: NOTHING in the compacted graph
    // touches a tombstoned id
    out.foreach { case (va, vb, kind) =>
      assert(va % 7 != 3 && vb % 7 != 3, s"dead id in compacted edge ($va,$vb,$kind)")
    }
    val kept = out.filter(_._3 == "kept").map(e => (e._1, e._2)).toSet
    val repair = out.filter(_._3 == "repair").map(e => (e._1, e._2))
    assert(kept.nonEmpty && repair.nonEmpty, "both kinds must be non-empty")
    // a repair edge never duplicates a kept edge, and (va, vb) is
    // unique across the whole output
    repair.foreach { e => assert(!kept.contains(e), s"repair duplicates kept $e") }
    assert(out.map(e => (e._1, e._2)).distinct.length == out.length, "duplicate edges")
    // connectivity repair works: every live node that had out-edges
    // before compaction still has out-edges after (its dead
    // out-neighbors had live out-neighbors to reconnect through —
    // true at the test SFs because routing nodes link both ways).
    val orig = graft.queries.Clustering.navGraph(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val liveWithOut = orig.filter { case (va, _) => va % 7 != 3 }.map(_._1).toSet
    val postOut = out.map(_._1).toSet
    val lost = liveWithOut -- postOut
    assert(lost.isEmpty, s"live nodes lost all out-edges after compaction: $lost")
  }

  test("q186 decontamination matches an independent driver-side reimplementation") {
    val sfDir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q186_embedding_decontamination")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)), r.getBoolean(4)))
    assert(out.nonEmpty)
    // eval cohort never appears as a scored row
    out.foreach { case (id, _, _, _, _) => assert(id % 17 != 5, s"eval $id scored") }

    // independent path: clusters from q85, vectors from
    // Tables.embeddings, the same left-to-right accumulation
    import org.apache.spark.sql.functions.col
    val fcid = SparkEntry.queries("q85_kmeans_assign")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val (na, nb) = (dot(a, a), dot(b, b))
      if (na == 0d || nb == 0d) 0d else dot(a, b) / (math.sqrt(na) * math.sqrt(nb))
    }
    def fr4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000
    val byCluster = fcid.keys.filter(vecs.contains).groupBy(fcid)
    val expected = byCluster.flatMap { case (c, ids) =>
      val evals = ids.filter(_ % 17 == 5).toSeq
      ids.filterNot(_ % 17 == 5).map { id =>
        val sims = evals.map(e => fr4(cos(vecs(id), vecs(e))))
        (id, c, evals.length.toLong,
          if (sims.isEmpty) None else Some(sims.max),
          sims.nonEmpty && sims.max >= 0.35)
      }
    }.toSet
    assert(out.toSet == expected,
      s"diverges: extra=${out.toSet -- expected} missing=${expected -- out.toSet}")
    // the held-out cohort is present at this SF and at least one
    // cluster co-locates train and eval (the op is non-vacuous)
    assert(out.exists(_._3 > 0), "no train vector ever met an eval candidate")
  }

  test("q188 packing: window laws hold and semantic order beats the random-adjacency baseline") {
    val sfDir = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q188_incontext_packing")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4))))
    assert(out.nonEmpty)
    out.foreach { case (c, w, nDocs, nAdj, sim) =>
      assert(nDocs >= 1 && nDocs <= 4, s"window ($c,$w) holds $nDocs docs")
      assert(nAdj == nDocs - 1, s"window ($c,$w): $nAdj adjacent pairs for $nDocs docs")
      assert(sim.isDefined == (nAdj > 0), s"window ($c,$w) sim presence law")
    }
    // windows are dense per cluster: 0..max, and only the LAST may be
    // partial (every earlier window holds exactly 4)
    out.groupBy(_._1).foreach { case (c, ws) =>
      val sorted = ws.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until ws.length).toSeq, s"cluster $c windows not dense")
      sorted.init.foreach { case (_, w, n, _, _) =>
        assert(n == 4, s"cluster $c window $w partial before the tail")
      }
    }
    // the op's reason to exist: adjacent docs in the semantic order
    // are more similar than adjacent docs in an arbitrary (vec_id)
    // order. Measured at sf0.001: 0.048 vs -0.001.
    val valid = out.filter(_._4 > 0)
    val semantic = valid.map { case (_, _, _, nAdj, sim) => sim.get * nAdj }.sum /
      valid.map(_._4).sum
    import org.apache.spark.sql.functions.col
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .filter(_._2.forall(x => !x.isNaN && !x.isInfinite))
      .sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble; na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble; i += 1
      }
      if (na == 0d || nb == 0d) 0d else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val baseline = e.zip(e.tail).map { case ((_, a), (_, b)) => cos(a, b) }.sum / (e.length - 1)
    assert(semantic > baseline + 0.02 && semantic >= 0.02,
      s"semantic packing lost its coherence edge: $semantic vs baseline $baseline")
  }

  test("q196 prototypicality prune: keep-count law, hardest kept, q85-consistent") {
    import org.apache.spark.sql.functions.col
    val out = q("q196_prototypicality_prune").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    val n = Tables.embeddings(spark, sfDir).count()
    assert(out.length == n, "every vector gets a verdict")
    assert(out.map(_._1).distinct.length == n, "exactly one verdict per vector")
    // cluster ids and memberships agree with the q85 artifact
    val q85 = q("q85_kmeans_assign").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.forall { case (v, c, _, _, _, _) => q85(v) == c },
      "cluster membership diverges from q85")
    out.groupBy(_._2).foreach { case (cid, members) =>
      val m = members.sortBy(_._4)
      val nC = m.length.toLong
      assert(m.forall(_._5 == nC), s"cluster $cid: n_cluster column wrong")
      // hard_rank is a permutation of 1..n ordered by (dist desc, vec_id)
      assert(m.map(_._4).toSeq == (1L to nC), s"cluster $cid: ranks not dense")
      val resorted = members.sortBy(r => (-r._3, r._1)).map(_._1).toSeq
      assert(m.map(_._1).toSeq == resorted, s"cluster $cid: rank order wrong")
      // keep law: whole cluster under the floor, hardest ceil(0.7 n) above it
      val kept = m.count(_._6).toLong
      val expected = if (nC < 8) nC else math.ceil(nC * 0.7).toLong
      assert(kept == expected, s"cluster $cid: kept $kept expected $expected")
      // the kept set is exactly the rank prefix — hardest always kept,
      // and in a pruned cluster the most prototypical member is dropped
      assert(m.takeWhile(_._6).length == kept, s"cluster $cid: kept not a rank prefix")
      if (nC >= 8 && expected < nC)
        assert(!m.last._6, s"cluster $cid: most prototypical member survived")
    }
    // non-vacuous: at least one cluster actually prunes at this SF
    assert(out.exists(!_._6), "no vector pruned — fixture degenerate")
  }
}
