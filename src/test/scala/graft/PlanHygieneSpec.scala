package graft

/** Plan-hygiene sweep: every registered query's physical plan must
  * be free of the hard anti-patterns — Expand
  * (mixed-distinct aggregates), CartesianProduct (unbroadcast cross),
  * ScalaUDF / BatchEvalPython (codegen black boxes), and the
  * whole-group-buffering exact percentile aggregates — except the
  * known by-design carve-outs. Planning only (no collect): the
  * initial physical plan is inspected, which is where these nodes
  * appear or don't; AQE re-planning never INTRODUCES one of them.
  * Shuffled joins are enforced only through the allowlist below
  * (legitimate for fact-to-fact work, each carve-out reasoned).
  */
class PlanHygieneSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  // flag -> queries allowed to carry it, with the reason pinned where
  // the carve-out is granted.
  private val allowed: Map[String, Set[String]] = Map(
    // ROLLUP/CUBE grouping sets plan an Expand by definition.
    "Expand" -> Set("q44_rollup_pricing", "q55_cube_summary"),
    // Legitimately shuffled joins, pinned per query (round-5 verdict
    // #5: a dim join silently losing its broadcast — threshold
    // drift, stats miss — previously failed nothing; now anything
    // off this list fails the suite):
    //  - q94: the salted-skew-join demonstration, which PlanSpec
    //    REQUIRES to be a real shuffle join;
    //  - q70/q86: corpus ⋈ corpus verdict joins (cluster labels /
    //    dedup drops joined back onto every document or vector) —
    //    both sides scale with the corpus, so a broadcast would be
    //    the bug. Bounded-by-construction sides elsewhere (q72/q103
    //    re-rank top-10, q112 exact top-k) carry explicit broadcast
    //    hints instead; every other join must broadcast a dim.
    //  - q122: the prefix-filter self-join (prefix ⋈ prefix on the
    //    shingle) and the candidate→token-set verification joins —
    //    every side scales with the corpus, so these are the
    //    legitimately-shuffled exact-similarity-join exchanges.
    //  - q127: the snapshot-diff full-outer join — two corpus-scale
    //    snapshots keyed on the primary key; the shuffle disappears
    //    only when snapshots are stored bucketed by key
    //    (storage-partitioned join), never via broadcast.
    //  - q136/q138/q140: the kNN-graph / hard-negative cluster-mate
    //    self-joins and the label-propagation edge ⋈ labels rounds —
    //    the same corpus ⋈ corpus shape as q86 (both sides scale
    //    with the corpus; broadcast would be the bug).
    //  - q143: the containment join's tail candidate join (prefix ⋈
    //    full postings) and payload verification joins — the q122
    //    exact-similarity-join exchanges in directed form.
    //  - q160/q164: the q70 shape reused — cluster labels (one row
    //    per node of the pair graph, scales with the corpus) joined
    //    back onto every document for fold assignment / sampling
    //    weights (q164 additionally joins corpus-scale cluster sizes
    //    back onto the assignment); broadcast would be the bug.
    //  - q183: the bitext cluster-blocked src ⋈ tgt join and the
    //    margin joins (per-src/per-tgt neighborhood means joined back
    //    onto every candidate pair) — the q136/q138 cluster-mate
    //    shape; both sides scale with the corpus.
    //  - q186: the cluster-blocked train ⋈ eval decontamination join
    //    (eval is a fixed FRACTION of the corpus, not a dim) and the
    //    verdict join back onto every train vector — the q86 shape.
    //  - q192: q70's verdict join reused verbatim (component labels —
    //    one row per node of the pair graph, scales with the corpus —
    //    joined back onto every document for license propagation).
    //  - q194/q195: the perceptual-hash twin of the q70/q192 shapes —
    //    the 4×16-bit banded candidate self-join (hash table ⋈ hash
    //    table on the band key; both sides scale with the media
    //    corpus) and the component-label verdict join back onto every
    //    document; broadcast would be the bug.
    //  - q199: the cross-modality capstone — the q192/q194 verdict
    //    joins three times over (text/image/audio component labels
    //    joined back onto every document) plus the final three-way
    //    per-doc join of the modality verdict frames; every side
    //    scales with the corpus.
    //  - q116: the per-doc duplicated-span start lists joined back
    //    onto every document for token masking — the q70/q192 verdict
    //    shape (one row per affected doc, scales with the corpus).
    //    Before r17 batch 3 this rode a BroadcastHashJoin off an
    //    optimistic inline-aggregate size estimate — an OOM at 100 TB;
    //    with the dup-span table staged the estimate is honest, the
    //    static plan is the scale-correct shuffled join, and AQE
    //    localizes it at bench scale.
    "SortMergeJoin" -> Set("q94_salted_skew_join", "q70_fuzzy_dedup",
      "q86_semantic_dedup", "q116_exact_substring_removal",
      "q122_exact_jaccard_join", "q127_snapshot_diff",
      "q136_knn_graph", "q138_hard_negatives", "q140_label_propagation",
      "q143_containment_join", "q148_triangle_count", "q160_leakage_safe_folds",
      "q164_dedup_weights", "q183_bitext_margin_mining",
      "q186_embedding_decontamination", "q192_license_propagation",
      "q194_image_neardup_license", "q195_audio_neardup_groups",
      "q199_multimodal_curation_verdict"),
    "ShuffledHashJoin" -> Set("q94_salted_skew_join", "q70_fuzzy_dedup",
      "q86_semantic_dedup", "q116_exact_substring_removal",
      "q122_exact_jaccard_join", "q127_snapshot_diff",
      "q136_knn_graph", "q138_hard_negatives", "q140_label_propagation",
      "q143_containment_join", "q148_triangle_count", "q160_leakage_safe_folds",
      "q164_dedup_weights", "q183_bitext_margin_mining",
      "q186_embedding_decontamination", "q192_license_propagation",
      "q194_image_neardup_license", "q195_audio_neardup_groups",
      "q199_multimodal_curation_verdict"))

  private val flags = Seq("Expand", "CartesianProduct", "ScalaUDF",
    "BatchEvalPython", "SortMergeJoin", "ShuffledHashJoin",
    "median(", "percentile(")

  test("every registered query plans free of hard anti-patterns") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      flags.filter(f => plan.contains(f) && !allowed.getOrElse(f, Set.empty)(name))
        .map(f => s"$name: $f")
    }
    assert(offenders.isEmpty,
      s"anti-patterns outside the allowlist:\n${offenders.mkString("\n")}")
  }

  // --- guards for the optimization wins (VERDICT r16 #6): a refactor
  // that silently regresses a headline plan shape must fail the
  // suite, not wait for the next bench read. ---

  test("q174 walk hops run at most 2 map-only jobs each (driver-held beam)") {
    // The walk's bounded state lives on the driver: a hop scans the
    // beam's adjacency rows and the new candidates' payloads — two
    // single-stage jobs, no shuffle — and scoring folds on the driver.
    // The probes are driver-held already and the entries are brought
    // to the driver first, so every job the walk runs below is a hop
    // job.
    import graft.queries.Clustering
    val (nodesP, g, probes, routed) = Clustering.navServing(spark, sfDir)
    val entries = Clustering.onDriver(routed)
    Seq(1, 5).foreach { hops =>
      val jobs = jobsDuring {
        Clustering.beamWalkScored(nodesP, g, probes, entries, 16, hops).collect()
      }.map(_.stages)
      assert(jobs.size >= hops && jobs.size <= 2 * hops,
        s"$hops-hop walk ran ${jobs.size} jobs (expected $hops..${2 * hops})")
      assert(jobs.forall(_ == 1),
        s"$hops-hop walk ran a multi-stage (shuffle) job: stages per job $jobs")
    }
  }

  test("navigable-graph build stays within its job budget (hub layer read once)") {
    // A fresh build over materialized inputs — the base population,
    // its kNN out-edges and the staged ranked base hubs — written to
    // noop, every job start counted (sf0.001, 4 slots). When each
    // hub-reading branch re-derived the hub group-by and its PrefixSum
    // rank itself, this build ran 139 jobs; over the one staged hub
    // table it runs 25. The budget catches a branch that derives the
    // hub layer again.
    import graft.queries.Clustering
    val tmp = java.nio.file.Files.createTempDirectory("graft_navjobs").toString
    val baseM = Clustering.navPopulations(spark, sfDir)._1
    baseM.write.parquet(s"$tmp/members")
    Clustering.knnTopEdges(baseM).write.parquet(s"$tmp/knn")
    val members = spark.read.parquet(s"$tmp/members")
    val knnE = spark.read.parquet(s"$tmp/knn")
    val hubs = Clustering.navFrozenLayers(spark, sfDir)._1
    val jobs = jobsDuring {
      Clustering.navGraphBuild(members, knnE, hubs)
        .write.format("noop").mode("overwrite").save()
    }.size
    assert(jobs <= 30, s"navigable-graph build ran $jobs jobs (budget 30)")
  }

  test("a repeated construct of q01, q12 and q23 starts no Spark job") {
    // Their construct phase is table reads only, and a table read whose
    // schema the JVM already knows starts no job. Inferring it again
    // cost one footer-reading job per table read (2, 2 and 1 here).
    Seq("q01_flagship_customer_stats", "q12_tiered_entity_resolution",
        "q23_window_analytics").foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sfDir)
      val jobs = jobsDuring(fn(spark, sfDir))
      assert(jobs.isEmpty, s"$name: a repeated construct started ${jobs.size} jobs: $jobs")
    }
  }

  test("q197 pair scoring stays dense (r17 batch-3 win guard)") {
    // The MaxSim pair stage must be the broadcast nested-loop over the
    // DENSE chunk rows (16-term multiply-add per pair) — never the
    // sparse bucket join whose exploded output fed the suite's
    // heaviest hash aggregate. Guards: the cross join is present, and
    // no `bucket` attribute survives into the serve plan (the staged
    // artifact is pivoted, so a bucket column reappearing means the
    // sparse shape came back).
    val plan = SparkEntry.queries("q197_maxsim_retrieval")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"q197: dense pair stage (BroadcastNestedLoopJoin) missing:\n$plan")
    assert(!plan.contains("bucket#"),
      s"q197: a bucket attribute re-entered the serve plan (sparse " +
        s"bucket-join shape regressed):\n$plan")
  }

  test("q116 serve never re-explodes spans (r17 win guard)") {
    // Positions come from the staged spanpos8 artifact; the removal
    // serve re-running posexplode means the second corpus hash pass
    // came back (the r17 batch-1 win).
    val plan = SparkEntry.queries("q116_exact_substring_removal")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("posexplode"),
      s"q116: posexplode re-entered the serve plan:\n$plan")
  }

  test("PQ ADC distance tables stay on the probe side (r16 win guard)") {
    // The S·K·D sqdist kernels must be constructed ONCE PER PROBE ROW
    // (the Project aliasing dt0..dt7, carried through the broadcast) —
    // never in a corpus-side projection, where every scanned row
    // re-ran all 512 kernels before its 8 lookups. Guard: every plan
    // line invoking the kernel is the probe-table construction line.
    Seq("q151_pq_adc_search", "q154_ann_ivfpq").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      // the ADC kernel is sqdist_f over a SLICED probe subvector vs a
      // codebook literal — q151's full-vector sqdist_f(e, p_e)
      // shortlist scoring is a different (legitimate) use and is not
      // matched here
      val offending = plan.linesIterator
        .filter(_.contains("sqdist_f(slice("))
        .filterNot(_.contains(" dt0#"))
        .toSeq
      // anchor only for q154: q151's ADC tables live inside its STAGED
      // shortlist build (q151rk), so its serve plan carries no kernel
      // at all — the negative guard alone covers a regression there
      if (name == "q154_ann_ivfpq")
        assert(plan.contains("sqdist_f(slice("),
          s"$name: ADC kernel not found at all — guard anchor drifted, " +
            "update the assertion alongside the plan change")
      assert(offending.isEmpty,
        s"$name: ADC sqdist_f(slice(...)) kernel escaped the probe-side" +
          s" Project:\n" + offending.mkString("\n"))
    }
  }
}
