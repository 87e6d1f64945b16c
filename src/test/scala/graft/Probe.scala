package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.operators.Staged

/** Dev tool: the require()-gated scale probes, one mode per JVM, each
  * run at the base dir (`SPARK_GRAFT_BASE`, default sf0.1) and at the
  * `make_scale.py` replica (`SPARK_GRAFT_SCALED`, default /tmp/sf1x):
  *
  *   graft.Probe build|knob|scale [faces...]
  *
  * `tools/round_gates.sh` runs every mode and keeps their tagged
  * lines. Faces replace the default list of `build` and `scale`.
  *  - `build`: stage-build cost at scale. Drives each face once per
  *    dir and prints one CODEGEN line per dir pass, then one STAGE line
  *    per [[Staged]] build (keys embed the dir, so one JVM holds both
  *    sides) with its exclusive seconds and the jobs it ran itself,
  *    and gates q174's head hits at both dirs (HITS).
  *  - `knob`: which serving knob restores the base-SF hit band at
  *    scale (BEAM, BQC, IVFBQ), through the parametric builders the
  *    registered faces are made of.
  *  - `scale`: warm serving time and output rows per face at both
  *    dirs, with their 10x/1x ratios (SCALE).
  */
object Probe {
  def main(args: Array[String]): Unit = {
    val run: (SparkSession, String, String, Seq[String]) => Unit = args.headOption match {
      case Some("build") => build
      case Some("knob") => knob
      case Some("scale") => scale
      case _ => sys.error("usage: graft.Probe build|knob|scale [faces...]")
    }
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALED", "/tmp/sf1x")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, base, scaled, args.toSeq.drop(1)) finally spark.stop()
  }

  /** Stage builds at scale: the 10x/1x ratio of a staged key is the
    * build scale story for that artifact (`q174graph|…` must stay about
    * linear: its hub layer is NN-Descent plus constant-K super-hubs). */
  private def build(spark: SparkSession, base: String, scaled: String,
      args: Seq[String]): Unit = {
    val faces =
      if (args.nonEmpty) args
      else Seq("q174_ann_graph_search", "q175_ann_graph_delta",
        "q178_ann_graph_compaction", "q180_ann_graph_reinsert",
        // q130 drives the bpe_merges stage (r13 verdict #7): the
        // trainer's 8 sequential argmax jobs are the one staged build
        // family whose 10x ratio was previously unmeasured.
        "q130_bpe_merges")

    val jobs = Seq(base, scaled).flatMap { dir =>
      val (_, pass) = Telemetry.measure(spark) {
        faces.foreach(name => Bench.materialize(SparkEntry.queries(name)(spark, dir)))
      }
      println(f"""CODEGEN {"dir":"$dir","compiles":${pass.compiles},"compile_s":${pass.compileSec}%.3f}""")
      pass.jobs
    }
    // a nested build's jobs count toward its own key
    val stageJobs = jobs.flatMap(_.stage).groupMapReduce(identity)(_ => 1L)(_ + _)
    Staged.buildTimings.toSeq.sortBy(_._1).foreach { case (k, v) =>
      println(f"""STAGE {"key":"$k","sec":$v%.3f,"jobs":${stageJobs.getOrElse(k, 0L)}}""")
    }

    // NN-Descent hub-layer quality gate (VERDICT r12 #4): the fixed
    // 2-round hub build is exactness-checked only at the small-SF hub
    // counts; this pins the claim AT SCALE — the q174 walk's head-hit
    // count at the scaled dir must stay above the serving non-vacuity
    // floor, so a degenerate routing layer (stride-ring init that two
    // rounds failed to densify) fails the probe loudly instead of
    // surfacing as a silent recall cliff.
    if (faces.contains("q174_ann_graph_search"))
      Seq(base, scaled).foreach { dir =>
        val hits = SparkEntry.queries("q174_ann_graph_search")(spark, dir)
          .agg(sum("hit")).collect()(0).getLong(0)
        println(s"""HITS {"query":"q174_ann_graph_search","dir":"$dir","hits":$hits}""")
        require(hits >= 5, s"hub routing degenerated at $dir: $hits/64 head hits")
      }
  }

  /** The serving-knob-vs-corpus-scale probe (VERDICT r13 #2): the q182
    * beam sweep, the q191 oversampling sweep and the q187/q201 IVF×BQ
    * serve, extended PAST their registered settings through
    * `Clustering.beamSweep`, `Vectors.bqSweep` and `Vectors.ivfBqServed`.
    *
    * Measured (round 14) — the knob story splits by HOW the corpus
    * grows:
    *  - Natural growth (the sf0.001→0.01→0.1 family): the beam knob
    *    RESPONDS — at sf0.1 hits@8 go 47 → 52 → 61 → 64 across beams
    *    16/32/64/128 (hops flat: 7/9 hops change nothing at beam
    *    16/64), and the BQ C knob goes 28 → 56 → 64 at C=16/64/256.
    *    Beam 128 / C=256 RESTORE the full band at sf0.1.
    *  - Replica growth (make_scale 10×): the exact-top-20 target is
    *    REPLICA-DOMINATED (9 identical copies at sim 1.0 + 11 vectors
    *    at sim ≈0.40, semantically random in the synthetic space), so
    *    the duplicate-collapsing graph serve is structurally capped at
    *    ~1 hit/probe (measured: EXACTLY 8/64 at every beam 16–128 and
    *    every hop count 5/7/9 — flat BY CONSTRUCTION, not degeneracy),
    *    while BQ serves 64/64 at EVERY C (identical codes Hamming-0 —
    *    the replicas rank themselves). Serving knobs cannot and should
    *    not "restore" a band the fixture's duplicate structure already
    *    redefined; the natural-growth family is the fixture that
    *    measures knob-vs-scale.
    *
    * Gates: the natural-corpus response curve and the replica-fixture
    * caps are pinned, so a silent regression in either regime fails
    * loudly instead of surfacing as an asserted-only scaling story.
    */
  private def knob(spark: SparkSession, base: String, scaled: String,
      args: Seq[String]): Unit = {
    val beams = Seq(16, 32, 64, 128)
    val hopsSweep = Seq(7, 9)
    val widths = Seq(16, 64, 256, 1024)

    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))

    val out = Seq(base, scaled).map { dir =>
      val bm = rows(queries.Clustering.beamSweep(spark, dir, beams))
      bm.foreach { case (b, n, h) =>
        println(s"""BEAM {"dir":"$dir","hops":5,"beam":$b,"n_results":$n,"hits":$h}""")
      }
      hopsSweep.foreach { hp =>
        rows(queries.Clustering.beamSweep(spark, dir, Seq(16, 64), hops = hp))
          .foreach { case (b, n, h) =>
            println(s"""BEAM {"dir":"$dir","hops":$hp,"beam":$b,"n_results":$n,"hits":$h}""")
          }
      }
      val bq = rows(queries.Vectors.bqSweep(spark, dir, widths))
      bq.foreach { case (c, n, h) =>
        println(s"""BQC {"dir":"$dir","c_width":$c,"results":$n,"hits":$h}""")
      }
      // The COMPOSED IVF×BQ cell (r14 verdict #3): q187's serving path
      // (nprobe=2 cells, Hamming rank inside them) with C swept past
      // the default — does cell pruning cap what oversampling recovers?
      // Plus one nprobe=4 point at the widest C, which attributes any
      // remaining gap to the cell-recall ceiling vs the Hamming rank.
      def ivfBqSweep(nprobe: Int, cWidths: Seq[Int]) = cWidths.map { c =>
        val r = queries.Vectors.ivfBqServed(spark, dir, nprobe, c)
          .agg(count(lit(1)), sum(col("hit")).cast("long")).head()
        println(s"""IVFBQ {"dir":"$dir","nprobe":$nprobe,"c_width":$c,"results":${r.getLong(0)},"hits":${r.getLong(1)}}""")
        (c.toLong, r.getLong(0), r.getLong(1))
      }
      val ivfBq = ivfBqSweep(2, Seq(64, 128, 256))
      val ivfBq4 = ivfBqSweep(4, Seq(256))
      dir -> (bm.map(t => t._1 -> t._3).toMap, bq.map(t => t._1 -> t._3).toMap,
        ivfBq.map(t => t._1 -> t._3).toMap, ivfBq4.map(t => t._1 -> t._3).toMap)
    }.toMap

    val (beamBase, bqBase, ivfBqBase, ivfBq4Base) = out(base)
    val (beamScaled, bqScaled, _, _) = out(scaled)
    // natural-corpus response: widening the beam restores the band at
    // the base SF (measured 47 → 61 → 64 at 16/64/128)
    require(beamBase(64L) >= beamBase(16L) + 5 && beamBase(128L) >= 60,
      s"beam knob response degraded at $base: $beamBase")
    require(bqBase(256L) >= 60,
      s"C knob no longer restores the band at $base: $bqBase")
    // replica-fixture caps: the collapsed-duplicate hit survives at
    // every beam (the hub-gate floor, now pinned per-knob), and the
    // code path ranks the Hamming-0 replicas at even the narrowest C
    require(beams.forall(b => beamScaled(b.toLong) >= 5),
      s"graph serve lost the duplicate hit at $scaled: $beamScaled")
    require(bqScaled(16L) >= 56,
      s"BQ stopped ranking exact-code replicas at $scaled: $bqScaled")
    // composed IVF×BQ (r14 verdict #3) — measured round 15 at sf0.1:
    // nprobe=2 hits@8 go 32 → 41 → 42 at C=64/128/256 (vs the
    // full-scan BQ's 56 → 64): CELL PRUNING CAPS WHAT OVERSAMPLING
    // RECOVERS — the plateau is the fraction of true top-20 mass
    // inside the two probed cells — while nprobe=4 at C=256 serves
    // 60/64. The deployment knob under composition is nprobe, not C.
    // Gates: the C response stays monotone above its measured floor,
    // and the nprobe knob keeps restoring the band.
    require(ivfBqBase(256L) >= ivfBqBase(64L) && ivfBqBase(64L) >= 28,
      s"composed IVF x BQ C-response degraded at $base: $ivfBqBase")
    // nprobe=4/C=256 is the REGISTERED operating point since r16
    // (q201_ann_ivf_bq_tuned serves this exact config, oracle-checked
    // per row) — this gate pins the registered face's recall floor.
    require(ivfBq4Base(256L) >= 55,
      s"nprobe=4 no longer restores the band at $base: $ivfBq4Base")
  }

  /** Serving scale (VERDICT r10 #1): each face's WARM run (2nd of 2;
    * stage builds and JIT excluded) and its output rows. Runtime is
    * judged against output growth: a family whose TRUE output is
    * super-linear by contract (global all-pairs similarity over
    * replicated content) is linear-in-work when runtime tracks rows. */
  private def scale(spark: SparkSession, base: String, scaled: String,
      args: Seq[String]): Unit = {
    val faces =
      if (args.nonEmpty) args
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
        "q199_multimodal_curation_verdict", "q200_token_budget_mixture")

    def warmSecAndRows(name: String, dir: String): (Double, Long) = {
      val q = SparkEntry.queries(name)
      Bench.materialize(q(spark, dir)) // stage build + JIT
      val sec = Telemetry.measure(spark)(Bench.materialize(q(spark, dir)))._2.wallSec
      (sec, q(spark, dir).count())
    }

    faces.foreach { name =>
      val (s1, r1) = warmSecAndRows(name, base)
      val (s10, r10) = warmSecAndRows(name, scaled)
      println(f"""SCALE {"query":"$name","sec_1x":$s1%.3f,"sec_10x":$s10%.3f,"ratio":${s10 / s1}%.2f,"rows_1x":$r1,"rows_10x":$r10,"rows_ratio":${r10.toDouble / math.max(1, r1)}%.2f}""")
    }
  }
}
