package graft

import org.apache.spark.sql.functions.{col, count, lit, sum}

/** Dev tool: the serving-knob-vs-corpus-scale probe (VERDICT r13 #2).
  * [[BuildProbe]] gates the BUILD quality at scale (head hits at the
  * default knob); this probe measures which SERVING knob setting
  * restores the base-SF hit band once the corpus grows 10× — the
  * q182 beam sweep, the q191 oversampling sweep and the q187/q201
  * IVF×BQ serve, all extended PAST their registered settings through
  * the parametric builders those queries are made of
  * (`Clustering.beamSweep`, `Vectors.bqSweep`, `Vectors.ivfBqServed`),
  * at the base dir and at the `make_scale.py` replica.
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
  * Gates (BuildProbe-style): the natural-corpus response curve and
  * the replica-fixture caps are pinned, so a silent regression in
  * either regime fails loudly instead of surfacing as an
  * asserted-only scaling story.
  */
object KnobProbe {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_BASE", "/root/testdata/sf0.1")
    val scaled = sys.env.getOrElse("SPARK_GRAFT_SCALED", "/tmp/sf1x")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("ERROR")

    val beams = Seq(16, 32, 64, 128)
    val hopsSweep = Seq(7, 9)
    val widths = Seq(16, 64, 256, 1024)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] =
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
    spark.stop()
  }
}
