package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.EventWindows

/** Streaming event windows (watermark + session_window), the q144
  * skew audit, SparkSessionExtensions wiring, fused vector kernels. */
class ExtensionOpsSpec extends SparkSuite {
  import spark.implicits._

  test("streaming tumbling windows with watermark match batch aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L * 1000000L // epoch micros
    val rows = Seq(
      EvRow(base, 1, "click", 1.0),
      EvRow(base + 10L * 60 * 1000000, 1, "click", 2.0), // same hour
      EvRow(base + 70L * 60 * 1000000, 2, "view", 3.0), // next hour
    )
    val stream = MemoryStream[EvRow]
    val q = EventWindows.tumblingHourly(stream.toDF())
      .writeStream.format("memory").queryName("tumble_mem").outputMode("complete").start()
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("tumble_mem")
      .orderBy("win_start", "event_type")
      .select("win_start", "event_type", "n")
      .as[(Long, String, Long)].collect().toSeq
    val hour = 3600L
    val h0 = base / 1000000 / hour * hour
    assert(got == Seq((h0, "click", 2L), (h0 + hour, "view", 1L)))
  }

  test("streaming session windows split on >10min gaps") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L * 1000000L
    val rows = Seq(
      EvRow(base, 7, "click", 1.0),
      EvRow(base + 5L * 60 * 1000000, 7, "click", 1.0), // same session (5 min gap)
      EvRow(base + 30L * 60 * 1000000, 7, "click", 1.0), // new session (25 min gap)
    )
    val stream = MemoryStream[EvRow]
    val q = EventWindows.sessions(stream.toDF())
      .writeStream.format("memory").queryName("sess_mem").outputMode("complete").start()
    stream.addData(rows)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sess_mem").orderBy("start_us")
      .select("user_id", "n_events").as[(Long, Long)].collect().toSeq
    assert(got == Seq((7L, 2L), (7L, 1L)))
  }

  test("stream-stream interval join matches the batch interval join") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1700000000L * 1000000L
    val min = 60L * 1000000L
    val imps = Seq( // left: impressions
      EvRow(base, 1, "imp", 0.0),
      EvRow(base, 2, "imp", 0.0),
      EvRow(base + 30 * min, 1, "imp", 0.0))
    val clicks = Seq( // right: clicks
      EvRow(base + 5 * min, 1, "click", 1.0), // matches imp@base (5 min later)
      EvRow(base + 20 * min, 1, "click", 2.0), // matches NOTHING (>10 min from both)
      EvRow(base + 9 * min, 2, "click", 3.0), // matches user-2 imp (9 min)
      EvRow(base + 35 * min, 1, "click", 4.0)) // matches imp@+30min
    val ls = MemoryStream[EvRow]
    val rs = MemoryStream[EvRow]
    val q = EventWindows.intervalJoin(ls.toDF(), rs.toDF())
      .writeStream.format("memory").queryName("ij_mem").outputMode("append").start()
    ls.addData(imps)
    rs.addData(clicks)
    q.processAllAvailable()
    q.stop()
    val got = spark.table("ij_mem")
      .select("user_id", "l_us", "r_us", "value")
      .as[(Long, Long, Long, Double)].collect().toSet
    // batch equivalent of the same interval condition
    val expected = imps.toDF().select(col("user_id"), col("ts_us").as("l_us"))
      .join(clicks.toDF().select(col("user_id").as("r_user"),
        col("ts_us").as("r_us"), col("value")),
        expr(s"user_id = r_user AND r_us >= l_us AND r_us <= l_us + ${10 * min}"))
      .select("user_id", "l_us", "r_us", "value")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got == expected && got.size == 3, s"got $got")
  }

  test("q144 skew audit: hot key carries ~70% share and gets a multi-way salt recommendation") {
    val rows = SparkEntry.queries("q144_skew_audit")(spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 5)
    val hot = rows.head
    assert(hot.getAs[Long]("key") == 0L, "hot key must rank first")
    val share = hot.getAs[Double]("share")
    assert(share > 0.6 && share < 0.8, s"hot share $share not ~0.7")
    // salt ≈ ceil(share · 32 tasks): the factor a pipeline feeds SaltedJoin
    val salt = hot.getAs[Long]("salt_rec")
    assert(salt >= 20 && salt <= 24, s"hot salt_rec $salt not ~0.7*32")
    rows.tail.foreach { r =>
      assert(r.getAs[Long]("salt_rec") == 1L,
        s"uniform key ${r.getAs[Long]("key")} should not need salting")
    }
    assert(hot.getAs[Long]("p50") <= hot.getAs[Long]("p99")
      && hot.getAs[Long]("p99") <= hot.getAs[Long]("max_c"))
    assert(hot.getAs[Long]("cnt") == hot.getAs[Long]("max_c"))
  }

  test("bronze zone ingests from JSON with an explicit nested schema (no inference)") {
    // The reference's raw zone stores full nested JSON documents
    // (extractor/main.py:422-428); engine form: spark.read.json with a
    // declared StructType (SURVEY.md §1.3 — bronze schema is explicit,
    // not inferred per batch).
    import graft.domain.Schemas._
    import org.apache.spark.sql.Encoders
    val tmp = java.nio.file.Files.createTempDirectory("graft_json").toString
    val rows = Seq(RawMatch("J1", "MASTER-1", processed = false,
      Some(RawPayload(Some(MatchInfo(Some(420), Some(1800L), Some(1700000000000L), None,
        Some(Seq(Participant(Some("MASTER-1"), Some("Agurin"), Some("EUW"), None,
          Some("Ahri"), Some(100), Some(true), Some(1), Some(0), Some(1),
          Some(10), Some(0), Some(100), Some(100),
          Some(0), Some(0), Some(0), Some(0), Some(0), Some(0), Some(0))))))))))
    rows.toDS().write.mode("overwrite").json(tmp)
    val schema = Encoders.product[RawMatch].schema
    val bronze = spark.read.schema(schema).json(tmp)
    val summoners = Seq(Summoner("MASTER-1", "Agurin#EUW", "europe", "euw1",
      500, 1, None, None, None)).toDF()
    val silver = graft.domain.MatchTransform.silver(bronze, summoners)
    assert(silver.select("champion").as[String].collect().toSeq == Seq("Ahri"))
  }

  test("NormalizeNFKC evaluates standalone and via SQL after register") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.functions.NormalizeNFKC(Literal.create("  ÉCOLE ",
      org.apache.spark.sql.types.StringType))
    assert(e.eval(null).toString == "école")
    val s2 = spark.newSession()
    graft.functions.NormalizeNFKC.register(s2)
    assert(s2.sql("SELECT norm_nfkc('  ÉCOLE ') AS n").collect().head.getString(0) == "école")
  }

  test("DotProductF == higher-order aggregate/zip_with form, bit-identical") {
    import graft.functions.{DotProductF, VectorFns}
    DotProductF.register(spark)
    // deterministic pseudo-random float vectors, incl. values whose
    // double sums are order-sensitive
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(64)(j => ((i * 31 + j * 17) % 97 - 48) / 7.0f),
        Array.tabulate(64)(j => ((i * 13 + j * 29) % 89 - 44) / 5.0f))
    }
    val df = spark.createDataFrame(rows).toDF("id", "a", "b")
    val both = df.select(col("id"),
      VectorFns.dotF("a", "b").as("fused"),
      VectorFns.dot("a", "b").as("hof")).collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"row ${r.getLong(0)}: fused != hof")
    }
    // null semantics match zip_with/aggregate: length mismatch -> null
    val edge = spark.sql(
      "SELECT dot_f(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS a, " +
        "dot_f(array(CAST(NULL AS FLOAT)), array(CAST(1.0 AS FLOAT))) AS b, " +
        "dot_f(CAST(NULL AS ARRAY<FLOAT>), array(CAST(1.0 AS FLOAT))) AS c").collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    // non-float-array input is an analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT dot_f(array(1, 2), array(1, 2))").collect()
    }
  }

  test("SqDistF == higher-order aggregate/zip_with form, bit-identical") {
    import graft.functions.SqDistF
    SqDistF.register(spark)
    // double vectors whose fold is order-sensitive — the fused kernel
    // must match the HOF left fold bit for bit (q85's oracle depends
    // on the accumulation order).
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(64)(j => ((i * 31 + j * 17) % 97 - 48) / 7.0),
        Array.tabulate(64)(j => ((i * 13 + j * 29) % 89 - 44) / 5.0))
    }
    val df = spark.createDataFrame(rows).toDF("id", "a", "b")
    val hof = org.apache.spark.sql.functions.aggregate(
      org.apache.spark.sql.functions.zip_with(col("a"), col("b"),
        (x, y) => (x - y) * (x - y)),
      org.apache.spark.sql.functions.lit(0.0), (acc, v) => acc + v)
    val both = df.select(col("id"),
      SqDistF.distCol(col("a"), col("b")).as("fused"), hof.as("hof")).collect()
    both.foreach { r =>
      assert(r.getDouble(1) == r.getDouble(2), s"row ${r.getLong(0)}: fused != hof")
    }
    // null semantics: length mismatch / null element / null array
    val edge = spark.sql(
      "SELECT sqdist_f(array(1.0D), array(1.0D, 2.0D)) AS a, " +
        "sqdist_f(array(CAST(NULL AS DOUBLE)), array(1.0D)) AS b, " +
        "sqdist_f(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D)) AS c").collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    // non-double-array input is an analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sqdist_f(array(1, 2), array(1, 2))").collect()
    }
  }

  test("finiteVec pins NULL semantics: null vector / null coordinate → false, not NULL") {
    import graft.functions.VectorFns
    // Spark forall yields NULL for a null element (silently dropped by
    // a filter) while DuckDB's bool_and IGNORES NULLs (row kept) — the
    // coalesced forms make both engines return literal FALSE (ADVICE
    // r10). A NULL result here would split every finite-filtered query.
    val df = spark.sql(
      """SELECT * FROM VALUES
           (1, array(1.0D, 2.0D)),
           (2, array()),
           (3, array(cast('NaN' AS DOUBLE))),
           (4, array(cast('Infinity' AS DOUBLE))),
           (5, array(CAST(NULL AS DOUBLE), 1.0D)),
           (6, CAST(NULL AS ARRAY<DOUBLE>))
         AS t(id, embedding)""")
      .select(col("id"), VectorFns.finiteVec("embedding").as("ok"))
      .collect().map(r => r.getInt(0) -> (if (r.isNullAt(1)) null else r.getBoolean(1))).toMap
    assert(df(1) == true && df(2) == true)
    assert(df(3) == false && df(4) == false)
    assert(df(5) == false, "null coordinate must be literal false")
    assert(df(6) == false, "null vector must be literal false")
  }

  test("SqDistI == higher-order aggregate/zip_with int fold, value-identical") {
    import graft.functions.SqDistI
    SqDistI.register(spark)
    // int8-code-shaped vectors (0..255) — the q72/q103 candidate
    // kernel; integer arithmetic, so fused ≡ HOF exactly, including
    // the all-255-vs-all-0 extreme (64 · 255² — inside int, and the
    // fused long accumulator must match the HOF's int fold there).
    val rows = (0 until 50).map { i =>
      (i.toLong,
        Array.tabulate(64)(j => (i * 31 + j * 17) % 256),
        Array.tabulate(64)(j => (i * 13 + j * 29) % 256))
    } :+ (50L, Array.fill(64)(255), Array.fill(64)(0))
    val df = spark.createDataFrame(rows).toDF("id", "a", "b")
    val hof = org.apache.spark.sql.functions.expr(
      """aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)),
           0, (acc, v) -> acc + v)""").cast("long")
    val both = df.select(col("id"),
      SqDistI.distCol(col("a"), col("b")).as("fused"), hof.as("hof")).collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2), s"row ${r.getLong(0)}: fused != hof")
    }
    // null semantics: length mismatch / null element / null array
    val edge = spark.sql(
      "SELECT sqdist_i(array(1), array(1, 2)) AS a, " +
        "sqdist_i(array(CAST(NULL AS INT)), array(1)) AS b, " +
        "sqdist_i(CAST(NULL AS ARRAY<INT>), array(1)) AS c").collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    // non-int-array input is an analysis error
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT sqdist_i(array(1.0D), array(1.0D))").collect()
    }
    // full-int-domain exactness (ADVICE r10): the per-element diff is
    // widened to long BEFORE subtracting — (MaxValue - -1) in 32-bit
    // silently wraps to 0; the true squared diff is (2^31)^2 = 2^62
    val wide = spark.sql(
      "SELECT sqdist_i(array(2147483647), array(-1)) AS a, " +
        "sqdist_i(array(-2147483648), array(0)) AS b").collect().head
    assert(wide.getLong(0) == (1L << 62), s"got ${wide.getLong(0)}")
    assert(wide.getLong(1) == (1L << 62), s"got ${wide.getLong(1)}")
  }
}

case class EvRow(ts_us: Long, user_id: Long, event_type: String, value: Double)
