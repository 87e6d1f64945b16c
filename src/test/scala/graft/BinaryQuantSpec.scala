package graft

import org.apache.spark.sql.Row

/** q184 binary quantization: the pack law is re-derived INDEPENDENTLY
  * on the driver (plain Scala loops over the collected corpus — no
  * Spark expression shared with the engine), and the serving output's
  * structural laws + a recall floor vs a driver-computed exact top-8
  * are pinned. The floor converts the scaladoc's measured recall band
  * from argued to gated: a future change that degenerates the sign
  * codes (an init-order zero constant, a bit-order flip) fails here
  * loudly instead of hash-matching a mirrored bug. */
class BinaryQuantSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  private def corpusRows: Seq[(Long, Array[Float])] =
    Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))

  test("bq64 pack law: staged lo/hi equal an independent driver-side sign pack") {
    val expected = corpusRows.map { case (id, e) =>
      var lo = 0L; var hi = 0L
      var i = 0
      while (i < 32) {
        if (i < e.length && e(i).toDouble > 0d) lo |= (1L << i)
        if (32 + i < e.length && e(32 + i).toDouble > 0d) hi |= (1L << i)
        i += 1
      }
      id -> ((lo, hi))
    }.toMap
    val got = queries.Vectors.bqBuild(spark, sfDir)
      .select("vec_id", "lo", "hi").collect()
    assert(got.length == expected.size)
    got.foreach { r =>
      val (lo, hi) = expected(r.getLong(0))
      assert(r.getLong(1) == lo && r.getLong(2) == hi,
        s"pack mismatch for vec_id ${r.getLong(0)}")
      assert(r.getLong(1) >= 0L && r.getLong(1) < (1L << 32))
      assert(r.getLong(2) >= 0L && r.getLong(2) < (1L << 32))
    }
  }

  test("q184 output laws: dense ranks per probe, bounded hamming, no self-result") {
    val rows = SparkEntry.queries("q184_ann_binary_hamming")(spark, sfDir).collect()
    assert(rows.length == 64, "8 probes x top-8")
    rows.groupBy(_.getLong(0)).foreach { case (probe, rs) =>
      assert(rs.map(_.getLong(1)).sorted.sameElements(1L to 8L),
        s"probe $probe ranks not dense")
      assert(rs.forall(_.getLong(2) != probe), s"probe $probe returned itself")
    }
    rows.foreach { r =>
      val ham = r.getInt(3)
      assert(ham >= 0 && ham <= 64, s"hamming $ham out of range")
      val sim = r.getDouble(4)
      assert(sim >= -1.0001 && sim <= 1.0001, s"sim $sim out of range")
      assert(Set(0, 1)(r.getInt(5)))
    }
  }

  test("q184 recall floor vs driver-computed exact top-8") {
    val corpus = corpusRows.filter(_._2.forall(x =>
      !x.isNaN && !x.isInfinite)) // exact harness over finite vectors
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0d || nb == 0d) 0d else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = corpus.toMap
    val exact: Map[Long, Set[Long]] = (0L until 8L).map { p =>
      val pe = byId(p)
      p -> corpus.filter(_._1 != p)
        .map { case (id, e) => (id, cos(pe, e)) }
        .sortBy { case (id, s) => (-s, id) }.take(8).map(_._1).toSet
    }.toMap
    val served = SparkEntry.queries("q184_ann_binary_hamming")(spark, sfDir)
      .collect().groupBy(_.getLong(0))
      .map { case (p, rs) => p -> rs.map(_.getLong(2)).toSet }
    val hits = served.map { case (p, ids) => (ids intersect exact(p)).size }.sum
    // measured 51/64 at sf0.001 (deterministic data); the floor guards
    // against a degenerate code path, not run-to-run noise
    assert(hits >= 40, s"recall@8 collapsed: $hits/64 (floor 40)")
  }

  test("q187 IVF×BQ hit flags agree with a driver-side exact top-20; recall floor") {
    val corpus = corpusRows.filter(_._2.forall(x =>
      !x.isNaN && !x.isInfinite))
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0d; var na = 0d; var nb = 0d; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      if (na == 0d || nb == 0d) 0d else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = corpus.toMap
    val exact20: Map[Long, Set[Long]] = (0L until 8L).map { p =>
      val pe = byId(p)
      p -> corpus.filter(_._1 != p)
        .map { case (id, e) => (id, cos(pe, e)) }
        .sortBy { case (id, s) => (-s, id) }.take(20).map(_._1).toSet
    }.toMap
    val rows = SparkEntry.queries("q187_ann_ivf_bq")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(Set(0, 1)(r.getInt(6)), "hit not a flag"))
    val flagged = rows.map(_.getInt(6)).sum
    val indep = rows.groupBy(_.getLong(0))
      .map { case (p, rs) => (rs.map(_.getLong(2)).toSet intersect exact20(p)).size }
      .sum
    // the engine ranks 4dp-rounded sims, the driver exact doubles —
    // a tie at the top-20 boundary can move one flag either way
    assert(math.abs(flagged - indep) <= 2,
      s"hit flags diverge from driver-side exact top-20: $flagged vs $indep")
    // measured 59/64 at sf0.001 — ABOVE q184's full-scan 51/64: the
    // same C=64 oversampling budget covers a larger fraction of the
    // two probed cells than of the whole corpus, and the true
    // neighbors live in those cells. The floor guards against a
    // degenerate hit column, not run-to-run noise.
    assert(flagged >= 40, s"IVF×BQ recall collapsed: $flagged/${rows.length}")
  }

  test("q191 sweep: widths exact, results fixed, hits monotone in C, precision law") {
    val out = SparkEntry.queries("q191_ann_bq_sweep")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == Seq(16L, 64L, 256L), s"widths ${out.map(_._1).toSeq}")
    out.foreach { case (c, results, hits, prec) =>
      assert(results == 64, s"C=$c served $results results")
      assert(hits >= 0 && hits <= results)
      assert(math.abs(prec - math.floor(hits.toDouble / results * 10000 + 0.5) / 10000) < 1e-12,
        s"C=$c precision law")
    }
    val hitsBy = out.map(t => t._1 -> t._3).toMap
    // the tuning curve's operational claim (measured 44/64/64 at
    // sf0.001, 28/56/64 at sf0.1): wider C never loses recall.
    // Strict per-step monotonicity is NOT guaranteed by construction —
    // widening C can displace a top-20 hit from the served top-8 with
    // an equal-rounded-sim, higher-vec_id candidate outside the exact
    // top-20 — so each step tolerates a ±2 tie-displacement wobble;
    // the end-to-end claim (widest ≥ narrowest) stays strict.
    assert(hitsBy(16L) <= hitsBy(64L) + 2 && hitsBy(64L) <= hitsBy(256L) + 2,
      s"hits not monotone: $hitsBy")
    assert(hitsBy(256L) >= hitsBy(16L), s"widest lost recall vs narrowest: $hitsBy")
    assert(hitsBy(256L) >= 40, s"widest width degenerated: ${hitsBy(256L)}")
  }

  test("the knob probe's builders reproduce the q191, q187 and q201 faces") {
    import org.apache.spark.sql.functions.{col, sum}
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows(queries.Vectors.bqSweep(spark, sfDir, Seq(16, 64, 256))) ==
      rows(SparkEntry.queries("q191_ann_bq_sweep")(spark, sfDir)
        .select("c_width", "results", "hits")))
    def hitSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum(col("hit")).cast("long")).head().getLong(0)
    Seq(("q187_ann_ivf_bq", 2, 64), ("q201_ann_ivf_bq_tuned", 4, 256)).foreach {
      case (name, nprobe, cWidth) =>
        assert(hitSum(queries.Vectors.ivfBqServed(spark, sfDir, nprobe, cWidth)) ==
          hitSum(SparkEntry.queries(name)(spark, sfDir)), name)
    }
  }
}
