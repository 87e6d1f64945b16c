package graft

/** Dev tool: the measured scale probe (VERDICT r10 #1). For each face
  * query, times the WARM run (2nd of 2; stage builds and JIT excluded)
  * and counts output rows at the base dir and at the `make_scale.py`
  * replica, then prints one JSON line per face with the 10x/1x ratios.
  * Runtime is judged against output growth: a family whose TRUE output
  * is super-linear by contract (global all-pairs similarity over
  * replicated content) is linear-in-work when runtime tracks rows.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALED", "/tmp/sf1x")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("ERROR")

    val faces =
      if (args.nonEmpty) args.toSeq
      else Seq(
        "q34_ngram_jaccard_blocked", "q33_minhash_lsh_pairs",
        "q70_fuzzy_dedup", "q122_exact_jaccard_join", "q159_curriculum_schedule",
        "q61_participants_projection", "q87_unigram_lm_score",
        "q154_ann_ivfpq", "q32_minhash_signature",
        "q92_bloom_decontamination", "q116_exact_substring_removal",
        "q98_resample_gapfill", "q164_dedup_weights", "q115_dup_span_coverage",
        "q178_ann_graph_compaction", "q179_ann_graph_compacted_serve",
        "q181_ann_graph_reinserted_serve",
        // round 16: the r15 faces ride the default list so the
        // round-close gate artifact records their ratios
        // (tools/round_gates.sh — previously commit-text only).
        "q199_multimodal_curation_verdict", "q200_token_budget_mixture")

    def warmSecAndRows(name: String, dir: String): (Double, Long) = {
      val q = SparkEntry.queries(name)
      q(spark, dir).write.format("noop").mode("overwrite").save() // stage build + JIT
      val t0 = System.nanoTime()
      q(spark, dir).write.format("noop").mode("overwrite").save()
      val sec = (System.nanoTime() - t0) / 1e9
      (sec, q(spark, dir).count())
    }

    faces.foreach { name =>
      val (s1, r1) = warmSecAndRows(name, base)
      val (s10, r10) = warmSecAndRows(name, scaled)
      println(f"""SCALE {"query":"$name","sec_1x":$s1%.3f,"sec_10x":$s10%.3f,"ratio":${s10 / s1}%.2f,"rows_1x":$r1,"rows_10x":$r10,"rows_ratio":${r10.toDouble / math.max(1, r1)}%.2f}""")
    }
    spark.stop()
  }
}
