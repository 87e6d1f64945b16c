package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic numeric helpers.
  *
  * `fround` replaces `round()` for any double derived from division:
  * Spark rounds via BigDecimal HALF_UP of the double's shortest decimal
  * representation while DuckDB rounds the decimal string half-away —
  * they disagree on values like 0.335 (→0.33 vs →0.34). `floor(x*10^d +
  * 0.5)/10^d` is pure IEEE-754 arithmetic, bit-identical on any engine,
  * so the differential oracle can mirror it exactly. The formula is
  * round-half-toward-+inf for ANY sign (negative halves round up, e.g.
  * -0.0000005 → 0 at 6dp): deterministic and engine-identical as long
  * as every consumer mirrors this exact formula — which is the
  * contract (q85's negative centroid coordinates rely on it). Any
  * replacement (e.g. a half-away variant) must change the Scala, SQL,
  * and driver-side (Clustering/ClusteringSpec) copies together. */
object Num {
  /** Floors via the exact fmod `%` — an all-DOUBLE pipeline — not
    * Spark's `floor(double)`, which returns BIGINT and therefore
    * silently corrupts the tails DuckDB's libm floor handles:
    * NaN→long casts to 0 with NO error even under ANSI (fround(NaN)
    * became 0.0, re-ranking an ANN top-k on one engine only — caught
    * by the adversarial-fixture differential), and |x| ≥ 2^63 clamps
    * to Long.MaxValue where DuckDB keeps 1e300-grade magnitudes.
    * `x % 1.0` (fmod) is exact per IEEE-754 and keeps the sign of x,
    * so `x - (x % 1.0)` is trunc(x), exact; a negative non-integer
    * then needs `- 1` (also exact — any double with a fractional part
    * has |x| < 2^53, so trunc(x) - 1 is representable). NOT
    * `pmod(x, 1.0)`: pmod's `(x % 1 + 1) % 1` rounds the intermediate
    * `x%1 + 1.0` to exactly 1.0 for x%1 in (-2^-54, 0), returning 0
    * where the true fractional part is nonzero — fround then yielded
    * -0.0 where libm floor yields the next cent down (ADVICE r10).
    * NaN propagates through `%` natively; only ±Inf needs a branch
    * (Inf % 1 is NaN where DuckDB's floor(Inf) is Inf). The DuckDB
    * mirror therefore needs no guard — this reproduces double-floor
    * semantics exactly for every double. The integer branch returns x
    * itself (`abs(r) === 0.0` catches the negative-zero remainder of a
    * negative integer too), preserving floor(-0.0) = -0.0 bit-exactly
    * as libm does. */
  def fround(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    val x = c * p + 0.5
    val r = x % lit(1.0)
    when(abs(x) === Double.PositiveInfinity, x)
      .when(abs(r) === lit(0.0), x)
      .when(x > 0, x - r)
      .otherwise(x - r - lit(1.0)) / p
  }

  /** SQL text of the same expression, for oracle queries. */
  def froundSql(inner: String, digits: Int): String = {
    val p = math.pow(10, digits).toLong
    s"floor(($inner) * $p + 0.5) / $p"
  }
}

/** Text-pipeline column functions: tokenization, shingling, MinHash,
  * SimHash, fingerprints, language scoring, quality metrics.
  *
  * All built from codegen'd built-ins (split/transform/aggregate/md5) —
  * no UDFs in the hot path, so whole-stage codegen spans the full
  * projection. Hashes are md5-based (not Spark's murmur `hash()`)
  * because md5 is defined identically in every engine, which keeps the
  * DuckDB differential oracle exact.
  *
  * Scale: every function here is a narrow per-row map — no shuffle, no
  * driver involvement — so they pipeline into whatever scan/join/agg
  * surrounds them at any data size.
  */
object TextFns {
  /** The shared stop list of the quality/selection family (q30
    * quality score, q63 selection, q80/q84 Gopher verdicts): ONE
    * definition so the heuristic can't silently fork between queries
    * or between engines. */
  val STOPWORDS: Seq[String] = Seq("the", "a", "and", "of", "to", "in")

  /** [[STOPWORDS]] as a SQL IN-list literal for the DuckDB oracles. */
  def stopListSql: String = STOPWORDS.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Whitespace tokens. Reference tokenizes the same way for name
    * matching (transformer_loader/main.py:62-73 lower/strip). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word k-shingles as space-joined strings; documents shorter than k
    * tokens fall back to a single whole-text shingle (so MinHash stays
    * defined). `toksCol` must name a column holding the token array. */
  def shingleExpr(toksCol: String, k: Int): Column =
    when(size(col(toksCol)) >= k,
      expr(s"transform(sequence(0, size($toksCol) - $k), i -> array_join(slice($toksCol, i + 1, $k), ' '))"))
      .otherwise(array(concat_ws(" ", col(toksCol))))

  /** DuckDB mirror of [[shingleExpr]] over a list-of-varchar column. */
  def shingleSql(toks: String, k: Int): String =
    s"""CASE WHEN len($toks) >= $k
        THEN [array_to_string($toks[i:i+${k - 1}], ' ') for i in generate_series(1, len($toks) - ${k - 1})]
        ELSE [array_to_string($toks, ' ')] END"""

  /** MinHash value #i over a shingle-array column: the lexicographic
    * min of md5("<i>|" + shingle). String-min of fixed-width hex is
    * order-isomorphic to the numeric hash min, and avoids any
    * engine-specific integer hash. */
  def minhash(shinglesCol: String, i: Int): Column =
    expr(s"array_min(transform($shinglesCol, s -> md5(concat('$i|', s))))")

  def minhashSql(shingles: String, i: Int): String =
    s"list_min([md5('$i|' || s) for s in $shingles])"

  /** Content fingerprint: md5 of whitespace-collapsed lower-cased text
    * (the exact-dedup key; reference analog: unique matchId index,
    * extractor/main.py:513). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  val fingerprintSql: String =
    "md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))"

  /** 16-bit SimHash over the token multiset. Per token, a 16-bit hash
    * from the md5 hex prefix; bit b of the signature is 1 iff the sum
    * of (+1/-1) votes over tokens is positive. */
  def simhash16(toksCol: String): Column = {
    val hs = s"transform($toksCol, t -> cast(conv(substring(md5(t), 1, 4), 16, 10) as int))"
    (0 until 16).map { b =>
      when(expr(s"aggregate($hs, 0, (acc, h) -> acc + CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)") > 0,
        lit(1 << b)).otherwise(lit(0))
    }.reduce(_ + _)
  }

  def simhash16Sql(toks: String): String = {
    val hs = s"[('0x' || substr(md5(t), 1, 4))::INT for t in $toks]"
    (0 until 16).map { b =>
      s"(CASE WHEN list_sum([CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END for h in $hs]) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
  }

  /** SimHash words 0..nWords-1 (16 bits each) for every document of
    * `docs(doc_id, text)`, built explode-first: one row per token →
    * codegen'd md5/conv/bitwise projection → ONE HashAggregate with
    * 16·nWords fixed-width (+1/-1) vote sums → word bits from vote
    * signs. Word w's per-token hash is hex chars [4w+1 .. 4w+4] of
    * md5(token), so word 0 is exactly [[simhash16]] — which stays as
    * the per-row higher-order-function form for contexts where a
    * column expression is needed; THIS form is ~5× faster on a corpus
    * scan because `aggregate` lambdas are CodegenFallback (interpreted,
    * boxed per element) while everything here stays inside whole-stage
    * codegen. Map-side partial aggregation ships one 16·nWords-int row
    * per doc per partition. Output: doc_id, w0 .. w{nWords-1}. */
  def simhashWords(docs: org.apache.spark.sql.DataFrame, nWords: Int): org.apache.spark.sql.DataFrame = {
    val tokenHashes = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("m", md5(col("tok")))
      .select((col("doc_id") +: (0 until nWords).map(w =>
        expr(s"cast(conv(substring(m, ${4 * w + 1}, 4), 16, 10) as int)").as(s"h$w"))): _*)
    val voteCols = for (w <- 0 until nWords; b <- 0 until 16) yield
      sum(when((col(s"h$w").bitwiseAND(lit(1 << b))) =!= 0, 1).otherwise(-1)).as(s"v${w}_$b")
    tokenHashes.groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select((col("doc_id") +: (0 until nWords).map { w =>
        (0 until 16).map(b => when(col(s"v${w}_$b") > 0, lit(1 << b)).otherwise(lit(0)))
          .reduce(_ + _).as(s"w$w")
      }): _*)
  }

  /** DuckDB mirrors for the multi-word SimHash ([[simhashWords]]):
    * word w (0..3) hashes = hex chars [4w+1 .. 4w+4] of each token's
    * md5; word bit b = 1 iff the (+1/-1) vote sum over tokens is
    * positive. */
  def tokenMd5sSql(toks: String): String =
    s"[md5(t) for t in $toks]"

  def simhashWordHashesSql(md5s: String, w: Int): String =
    s"[('0x' || substr(m, ${4 * w + 1}, 4))::INT for m in $md5s]"

  def simhashWordSql(hashes: String): String =
    (0 until 16).map { b =>
      s"(CASE WHEN list_sum([CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END for h in $hashes]) > 0 THEN ${1 << b} ELSE 0 END)"
    }.mkString(" + ")
}

/** Embedding-vector column functions (cosine similarity, norms,
  * random-hyperplane LSH) over `array<float>` columns, computed in
  * double via codegen'd higher-order functions — no UDF.
  *
  * The LSH hyperplanes are a deterministic integer formula (not a
  * seeded RNG) so the DuckDB oracle can regenerate them exactly:
  * w[i][j] = ((i * 2654435761 + j * 40503) mod 1009) - 504, a
  * Weyl-style mix giving roughly uniform weights in [-504, 504].
  */
object VectorFns {
  /** Cosine similarity with the zero-norm guard the house style
    * mandates for every ratio under ANSI mode (Spark 4 raises
    * DIVIDE_BY_ZERO on double division too): a zero-norm vector has
    * no direction, so its similarity to anything is DEFINED as 0
    * (orthogonal) — the one-bad-row-in-100-TB alternative is the
    * whole stage aborting. The adversarial-fixture differential
    * (tools/make_adversarial.py) is what caught the unguarded form:
    * one all-zeros embedding killed every ANN query while the DuckDB
    * mirror kept serving. Mirror every use with [[cosineSql]] — the
    * CASE and the division must round identically on both engines. */
  def cosine(dot: Column, nsqA: Column, nsqB: Column): Column =
    when(nsqA === 0d || nsqB === 0d, lit(0d))
      .otherwise(dot / (sqrt(nsqA) * sqrt(nsqB)))

  /** SQL mirror of [[cosine]] for the DuckDB oracle. */
  def cosineSql(dot: String, nsqA: String, nsqB: String): String =
    s"(CASE WHEN $nsqA = 0 OR $nsqB = 0 THEN 0.0 ELSE ($dot) / (sqrt($nsqA) * sqrt($nsqB)) END)"

  /** Σ v[i]^2 accumulated left-to-right in double. */
  def normSq(embCol: String): Column =
    expr(s"aggregate($embCol, 0D, (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")

  def normSqSql(emb: String): String =
    s"list_sum([x * x for x in $emb])"

  /** Dot product of two same-length array columns, in double. */
  def dot(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), 0D, (acc, v) -> acc + v)")

  def dotSql(a: String, b: String): String =
    s"list_sum([$a[i] * $b[i] for i in generate_series(1, len($a))])"

  /** Codegen'd dot product over `array<float>` columns — identical
    * accumulation order and null semantics to [[dot]], via the native
    * [[graft.functions.DotProductF]] expression (register it on the
    * session first). Use for corpus-scale similarity kernels; the HOF
    * form stays for contexts without session access. */
  def dotF(a: String, b: String): Column =
    graft.functions.DotProductF.dotCol(col(a), col(b))

  /** Codegen'd squared norm = dotF(emb, emb) (same accumulation order
    * as [[normSq]]). */
  def normSqF(emb: String): Column =
    graft.functions.DotProductF.dotCol(col(emb), col(emb))

  /** TRUE iff every coordinate of the array column is finite (no
    * NaN, no ±Inf). The fixed-point kernels (int8/PQ quantization,
    * e3/e4 integer moments, JL distortion ratios) are UNDEFINED on
    * non-finite coordinates: Spark's double→integral casts yield
    * 0/clamp silently while DuckDB's abort — the adversarial fixture
    * (one NaN coordinate) split the engines 6 queries wide. The
    * production stance is data hygiene at the index build: a vector
    * that cannot be encoded is excluded from the encoded artifact
    * (mirror with [[finiteVecSql]] so both engines drop the same
    * rows). The float-cosine family needs NO such filter — NaN sims
    * order identically in both engines. `abs(x) < Inf` is the whole
    * test: NaN compares greater than Inf in BOTH engines' ordering,
    * so it excludes NaN and ±Inf in one branch-free comparison.
    * NULL semantics are pinned EXPLICITLY on both engines (ADVICE
    * r10): a NULL vector or a NULL coordinate → FALSE (not NULL) —
    * Spark's bare `forall` yields NULL for a NULL element (row
    * dropped by a filter) while DuckDB's bool_and IGNORES NULLs (row
    * kept), so without the coalesces a null-coordinate embedding
    * split the engines on every finite-filtered query. */
  def finiteVec(emb: String): Column =
    coalesce(
      forall(col(emb), x =>
        when(x.isNull, lit(false))
          .otherwise(abs(x.cast("double")) < lit(Double.PositiveInfinity))),
      lit(false))

  /** DuckDB mirror of [[finiteVec]]: empty list → TRUE (as forall),
    * NULL list → FALSE, NULL element → FALSE. */
  def finiteVecSql(emb: String): String =
    s"($emb IS NOT NULL AND coalesce(list_aggregate(" +
      s"[coalesce(isfinite(x::DOUBLE), FALSE) for x in $emb], 'bool_and'), TRUE))"

  /** TRUE iff the vector is WELL-FORMED: non-NULL and free of NULL
    * coordinates (NaN/±Inf are still data — see [[finiteVec]] for the
    * stricter fixed-point-kernel filter). [[graft.Tables.embeddings]]
    * applies this at the ingest boundary; oracle SQL mirrors with
    * [[embeddingsSql]]. */
  def wellFormedSql(emb: String): String =
    s"($emb IS NOT NULL AND coalesce(list_aggregate(" +
      s"[x IS NOT NULL for x in $emb], 'bool_and'), TRUE))"

  /** The hygienic `embeddings` relation for oracle FROM clauses — the
    * DuckDB mirror of [[graft.Tables.embeddings]]'s ingest filter.
    * Splice as `FROM ${VectorFns.embeddingsSql}` (the subquery keeps
    * the relation name `embeddings`, so downstream SQL is unchanged);
    * use [[embeddingsSqlAs]] where the site binds its own alias. */
  val embeddingsSql: String =
    s"(SELECT * FROM embeddings WHERE ${wellFormedSql("embedding")}) embeddings"

  /** [[embeddingsSql]] bound to a caller-chosen alias. */
  def embeddingsSqlAs(alias: String): String =
    s"(SELECT * FROM embeddings WHERE ${wellFormedSql("embedding")}) $alias"

  /** Deterministic hyperplane weights, md5-derived per (plane, coord):
    * the first 16 bits of md5("hp|j|i") minus 2^15 — INDEPENDENT
    * pseudo-random weights across planes. The previous linear-hash
    * scheme ((i·2654435761 + j·40503) mod 1009 − 504) made plane j+1's
    * weight vector a constant mod-shift of plane j's (40503 ≡ 143 mod
    * 1009), so successive sign bits correlated ~0.86 and an "8-bit"
    * band key carried ~2 effective bits — the q118 recall tripwire
    * measured lift ≈ 1.0 at sf0.1 (bucketing no better than random)
    * and hot buckets at 1.8× uniform mass. md5 weights are computable
    * bit-identically in Scala (for the plan-literal table), Spark SQL,
    * and DuckDB (for the oracle mirror), so every engine buckets every
    * vector identically. Supported dim ≤ [[MaxHyperplaneDim]]. */
  def hpWeight(j: Int, i: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"hp|$j|$i".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    (Integer.parseInt(hex.substring(0, 4), 16) - 32768).toDouble
  }

  /** Embedding dims supported by the literal weight tables (64 used by
    * the test corpus; the cap bounds plan-literal size at
    * MaxHyperplaneDim × planes doubles). */
  val MaxHyperplaneDim = 256

  private def hpWeights(j: Int): Array[Double] =
    (0 until MaxHyperplaneDim).map(i => hpWeight(j, i)).toArray

  def hyperplaneDotSql(emb: String, j: Int): String =
    s"list_sum([$emb[i] * (('0x' || substr(md5('hp|' || $j || '|' || (i - 1)), 1, 4))::INT - 32768) for i in generate_series(1, len($emb))])"

  /** DuckDB LSH bucket id from `nBits` hyperplane sign bits. At 100 TB
    * this is the blocking key that turns an O(n²) similarity join into
    * a per-bucket join (SURVEY.md §7.4: never full cross-join at
    * scale); the engine side is [[bucketFromProjections]]. */
  def lshBucketSql(emb: String, nBits: Int): String =
    lshBucketRangeSql(emb, 0, nBits)

  /** DuckDB LSH bucket id from hyperplanes [firstPlane, firstPlane +
    * nBits). Disjoint plane ranges give INDEPENDENT band keys (the q33
    * band pattern for bit-LSH): each band has 2^nBits buckets,
    * candidates are unioned across bands, and recall per band is
    * p_agree^nBits where p_agree = 1 - θ/π for angle θ. */
  def lshBucketRangeSql(emb: String, firstPlane: Int, nBits: Int): String =
    (0 until nBits).map { j =>
      s"(CASE WHEN ${hyperplaneDotSql(emb, firstPlane + j)} > 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString(" + ")

  /** Signed projections onto hyperplanes `planes` plus the squared
    * norm, for EVERY vector of `embeddings(vec_id, embedding)` — built
    * as posexplode → codegen'd arithmetic → one HashAggregate with
    * fixed-width sum buffers. A higher-order-function form
    * (aggregate over the coordinates) is CodegenFallback (interpreted,
    * boxed per element), too slow for scanning the whole corpus × 32
    * planes; this form stays inside
    * whole-stage codegen, and map-side partial aggregation means one
    * (1 + |planes|)-double row per vector reaches the shuffle.
    * Output: vec_id, nsq, d<j> for each plane j. */
  def hyperplaneProjections(embeddings: org.apache.spark.sql.DataFrame,
      planes: Seq[Int]): org.apache.spark.sql.DataFrame = {
    val e = embeddings.select(col("vec_id"),
      posexplode(col("embedding")).as(Seq("i", "x")))
      // Dim cap is a CONTRACT, not a silent truncation: element_at past
      // the literal table would null out and quietly zero the
      // projection. The Or short-circuits, so assert_true only
      // evaluates (and throws) on an out-of-range coordinate.
      .filter(expr(s"i < $MaxHyperplaneDim OR assert_true(false, " +
        s"'embedding dim exceeds MaxHyperplaneDim = $MaxHyperplaneDim') IS NULL"))
    val xd = col("x").cast("double")
    val projCols = planes.map { j =>
      // Plan-literal weight table per plane (md5-derived, see
      // hpWeight): element_at is O(1) inside whole-stage codegen — no
      // join, no per-row hashing on the corpus path.
      val w = element_at(lit(hpWeights(j)), col("i") + 1)
      sum(xd * w).as(s"d$j")
    }
    e.groupBy(col("vec_id"))
      .agg(sum(xd * xd).as("nsq"), projCols: _*)
  }

  /** Band key from precomputed projection columns d<firstPlane>.. (see
    * [[hyperplaneProjections]]): bit j of the bucket = sign of the
    * projection onto plane firstPlane+j. */
  def bucketFromProjections(firstPlane: Int, nBits: Int): Column =
    (0 until nBits).map { j =>
      when(col(s"d${firstPlane + j}") > 0, lit(1 << j)).otherwise(lit(0))
    }.reduce(_ + _)
}
