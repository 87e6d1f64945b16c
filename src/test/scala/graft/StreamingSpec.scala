package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.domain.{MatchTransform, Schemas}
import graft.streaming.Incremental
import Schemas._

/** Streaming slice (SURVEY.md §7.2 step 4): exactly-once dedup via
  * streaming dropDuplicates, and update-mode gold aggregation proven
  * equivalent to the batch recompute. */
class StreamingSpec extends SparkSuite {
  import spark.implicits._

  test("streaming gold agg (update mode) == batch groupBy recompute") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      SilverLite("A", "Ahri", win = true, 2.0),
      SilverLite("A", "Ahri", win = false, 1.5),
      SilverLite("A", "Zed", win = true, 3.0),
      SilverLite("B", "Ahri", win = true, 4.0),
    )
    val stream = MemoryStream[SilverLite]
    val q = Incremental.goldStream(stream.toDF())
      .writeStream.format("memory").queryName("gold_mem").outputMode("complete").start()
    stream.addData(rows.take(2))
    q.processAllAvailable()
    stream.addData(rows.drop(2)) // second micro-batch updates state
    q.processAllAvailable()
    q.stop()

    val streaming = spark.table("gold_mem")
      .as[(String, String, Long, Long, Double)].collect().toSet
    val batch = rows.toDF()
      .groupBy(col("puuid"), col("champion"))
      .agg(count(lit(1)).as("games"),
        sum(when(col("win") === true, 1L).otherwise(0L)).as("wins"),
        sum(col("kda")).as("kda_sum"))
      .as[(String, String, Long, Long, Double)].collect().toSet
    assert(streaming == batch)
  }

  private def mk(matchId: String, win: Boolean): RawMatch =
    RawMatch(matchId, "MASTER-1", processed = false,
      Some(RawPayload(Some(MatchInfo(Some(420), Some(1800L), Some(1700000000000L),
        Some(1700000100000L), Some(Seq(Participant(
          Some("MASTER-1"), Some("Agurin"), Some("EUW"), None, Some("Ahri"),
          Some(100), Some(win), Some(5), Some(2), Some(5),
          Some(100), Some(0), Some(10000), Some(9000),
          Some(0), Some(0), Some(0), Some(0), Some(0), Some(0), Some(0)))))))),
      // ingest audit timestamp — drives the dedup watermark
      Some(new java.sql.Timestamp(1700000200000L)))

  private def summoners = Seq(
    Summoner("MASTER-1", "Agurin#EUW", "europe", "euw1", 500, 1, None, None, None)).toDF()

  test("file-based incremental pipeline: bronze -> silver + gold, exactly-once dedup") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val bronzeDir = s"$tmp/bronze"
    val silverDir = s"$tmp/silver"
    val goldDir = s"$tmp/gold"
    val ckpt = s"$tmp/ckpt"

    // batch 1: two matches + a duplicate matchId (must dedup)
    Seq(mk("M1", win = true), mk("M2", win = false), mk("M1", win = true))
      .toDF().write.mode("append").parquet(bronzeDir)
    Incremental.runOnce(spark, bronzeDir, summoners, silverDir, goldDir, ckpt)
      .awaitTermination()

    val silver1 = spark.read.parquet(silverDir)
    assert(silver1.select("matchId").as[String].collect().sorted.toSeq == Seq("M1", "M2"))
    val gold1 = Incremental.readGold(spark, goldDir).get.collect()
    assert(gold1.length == 1)
    assert(gold1.head.getAs[Long]("games") == 2 && gold1.head.getAs[Long]("wins") == 1)

    // batch 2: one new match + replay of M1 (checkpoint + dedup state
    // must drop it — the unique-index exactly-once contract)
    Seq(mk("M3", win = true), mk("M1", win = true))
      .toDF().write.mode("append").parquet(bronzeDir)
    Incremental.runOnce(spark, bronzeDir, summoners, silverDir, goldDir, ckpt)
      .awaitTermination()

    val silver2 = spark.read.parquet(silverDir)
    assert(silver2.select("matchId").as[String].collect().sorted.toSeq == Seq("M1", "M2", "M3"))
    val gold2 = Incremental.readGold(spark, goldDir).get.collect()
    assert(gold2.head.getAs[Long]("games") == 3 && gold2.head.getAs[Long]("wins") == 2)

    // gold merge is BOUNDED: each epoch wrote only the single bucket
    // its one (puuid, champion) key hashes to, not all NumBuckets.
    val goldRoot = new java.io.File(goldDir)
    val versions = goldRoot.listFiles().filter(f => f.isDirectory && f.getName.startsWith("v="))
    assert(versions.length == 2) // one complete version per epoch
    versions.foreach { v =>
      val buckets = v.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      assert(buckets.length == 1)
    }
    // silver staging is per-epoch (idempotent overwrite target per
    // batch; epoch numbering is the checkpoint's, so only the layout —
    // one dir per processed batch, starting at 0 — is asserted)
    val silverBatches = new java.io.File(silverDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).sorted
    assert(silverBatches.length >= 2 && silverBatches.head == "batch=0")
  }

  test("a repeated incremental tick reuses its generated classes") {
    // Each runOnce is a new streaming query on a cloned session. With
    // Spark's artifact isolation on, every clone got its own executor
    // class loader, and the generated-class cache is keyed by loader,
    // so each tick recompiled the classes of the tick before (28 here).
    // BenchSession turns isolation off and a warm tick reuses them all.
    val tmp = Files.createTempDirectory("graft_stream_codegen").toString
    val (bronzeDir, ckpt) = (s"$tmp/bronze", s"$tmp/ckpt")
    val dims = summoners
    def tick(i: Int): Unit = {
      Seq(mk(s"T$i", win = i % 2 == 0)).toDF().write.mode("append").parquet(bronzeDir)
      Incremental.runOnce(spark, bronzeDir, dims, s"$tmp/silver", s"$tmp/gold", ckpt)
        .awaitTermination()
    }
    tick(0)
    tick(1)
    val compiles0 = Bench.codegenTotals()._1
    tick(2)
    val recompiled = Bench.codegenTotals()._1 - compiles0
    info(s"the third tick compiled $recompiled classes")
    assert(recompiled <= 5, s"the third tick compiled $recompiled classes")
    assert(Incremental.readGold(spark, s"$tmp/gold").get.head().getAs[Long]("games") == 3)
  }

  test("gold merge is idempotent under at-least-once batch retry") {
    val tmp = Files.createTempDirectory("graft_retry").toString
    val (silverDir, goldDir) = (s"$tmp/silver", s"$tmp/gold")
    val summoners = Seq(
      Summoner("P1", "One#EUW", "europe", "euw1", 1, 1, None, None, None)).toDF()
    def mk(id: String, win: Boolean) =
      RawMatch(id, "P1", processed = false,
        Some(RawPayload(Some(MatchInfo(Some(420), Some(1800L), Some(1700000000000L), None,
          Some(Seq(Participant(Some("P1"), Some("One"), Some("EUW"), None, Some("Ahri"),
            Some(100), Some(win), Some(1), Some(1), Some(1), Some(0), Some(0), Some(0), Some(0),
            Some(0), Some(0), Some(0), Some(0), Some(0), Some(0), Some(0)))))))),
        Some(new java.sql.Timestamp(1700000200000L)))

    val b0 = Seq(mk("A", win = true), mk("B", win = false)).toDF()
    val b1 = Seq(mk("C", win = true)).toDF()
    Incremental.processBatch(spark, b0, summoners, silverDir, goldDir, epochId = 0L)
    Incremental.processBatch(spark, b1, summoners, silverDir, goldDir, epochId = 1L)
    val before = Incremental.readGold(spark, goldDir).get.collect()
    assert(before.head.getAs[Long]("games") == 3 && before.head.getAs[Long]("wins") == 2)

    // at-least-once retry: epoch 1 re-runs after its write already
    // completed — the merge must read pre-epoch-1 state, not the
    // failed attempt's own output, so counters DON'T double
    Incremental.processBatch(spark, b1, summoners, silverDir, goldDir, epochId = 1L)
    val after = Incremental.readGold(spark, goldDir).get.collect()
    assert(after.head.getAs[Long]("games") == 3 && after.head.getAs[Long]("wins") == 2)

    // silver staging is equally idempotent: batch=1 was overwritten,
    // not appended, so the match set is unchanged
    val silverIds = spark.read.parquet(silverDir)
      .select("matchId").as[String].collect().sorted.toSeq
    assert(silverIds == Seq("A", "B", "C"))

    // retention sweep keeps each bucket's newest version AND its merge
    // parent (the newest epoch may still be replayed and must rebuild
    // from pre-epoch state) — readGold is unchanged
    Incremental.compactGold(spark, goldDir)
    val afterCompact = Incremental.readGold(spark, goldDir).get.collect()
    assert(afterCompact.head.getAs[Long]("games") == 3
      && afterCompact.head.getAs[Long]("wins") == 2)
    val vDirs = new java.io.File(goldDir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("v="))
    assert(vDirs.length == 2,
      s"expected newest + parent to survive, got ${vDirs.map(_.getName).toSeq}")

    // the exact replay-after-compaction scenario the parent exists
    // for: epoch 1 re-runs AFTER the sweep — it must still merge from
    // epoch-0 state, not from nothing
    Incremental.processBatch(spark, b1, summoners, silverDir, goldDir, epochId = 1L)
    val replayed = Incremental.readGold(spark, goldDir).get.collect()
    assert(replayed.head.getAs[Long]("games") == 3
      && replayed.head.getAs[Long]("wins") == 2,
      "replay after compaction must not reset accumulated counters")
  }

  test("stateful TTL: dormant keys evicted by event-time timeout; live keys keep counting") {
    import graft.streaming.StatefulStats
    import StatefulStats.TimedIn
    implicit val sqlCtx = spark.sqlContext
    // base offset: an event at exactly epoch 0 equals the initial
    // watermark and is dropped as late — start an hour in
    def ts(min: Long) = new java.sql.Timestamp((60 + min) * 60000L)

    val stream = MemoryStream[TimedIn]
    val q = StatefulStats.runningStatsWithTtl(stream.toDS(), ttlMs = 30 * 60000L)
      .writeStream.format("memory").queryName("ttl_mem").outputMode("update").start()
    // b1: A and B active at t=0 (watermark after: 0)
    stream.addData(TimedIn("A", "Ahri", win = true, 2.0, ts(0)),
      TimedIn("B", "Zed", win = false, 1.0, ts(0)))
    q.processAllAvailable()
    // b2: only B, far in the future (watermark after this batch: 120m)
    stream.addData(TimedIn("B", "Zed", win = true, 3.0, ts(120)))
    q.processAllAvailable()
    // b3: only B again — processed with watermark=120m > A's timeout
    // (0 + 30m), so A's state is evicted here (emitting nothing)
    stream.addData(TimedIn("B", "Zed", win = true, 5.0, ts(121)))
    q.processAllAvailable()
    // b4: A returns — state was evicted, counters restart from zero
    stream.addData(TimedIn("A", "Ahri", win = true, 4.0, ts(122)))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("ttl_mem")
      .as[(String, String, Long, Long, Double)].collect()
    val aGames = rows.filter(_._1 == "A").map(_._3)
    assert(aGames.nonEmpty && aGames.max == 1) // never accumulated across eviction
    val bFinal = rows.filter(_._1 == "B").maxBy(_._3)
    assert(bFinal._3 == 3 && bFinal._4 == 2) // live key unaffected by A's eviction
  }

  test("streaming funnel (O(1)-per-user state) == batch q95 window attribution") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.Funnel
    import graft.streaming.Funnel.Ev
    val sfDir = "/root/testdata/sf0.001"
    // Real corpus events, split into two micro-batches at the global
    // time median — per-user event time never regresses across the
    // split, the ordering contract the operator documents.
    // event_type in the sort key: a click and purchase at the SAME
    // timestamp must not straddle the batch split with the purchase
    // first — the RANGE frame counts that tie, so the stream must see
    // the click no later than the purchase.
    val evs = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_type"), expr("ts div 1000").as("ts_us"))
      .as[Ev].collect().sortBy(e => (e.ts_us, e.user_id, e.event_type))
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val stream = MemoryStream[Ev]
    val q = Funnel.running(stream.toDS())
      .writeStream.format("memory").queryName("funnel_mem").outputMode("update").start()
    stream.addData(b1.toSeq)
    q.processAllAvailable()
    stream.addData(b2.toSeq)
    q.processAllAvailable()
    q.stop()
    // Update mode emits one row per touched user per batch; the FINAL
    // state per user is recoverable without batch tags because every
    // counter is monotone non-decreasing and min_delay monotone
    // non-increasing over a user's updates.
    val streaming = spark.table("funnel_mem")
      .groupBy(col("user_id"))
      .agg(max("n_clicks").as("n_clicks"), max("n_purchases").as("n_purchases"),
        max("n_converted").as("n_converted"), min("min_delay_us").as("min_delay_us"))
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    val batch = SparkEntry.queries("q95_event_funnel")(spark, sfDir)
      .as[(Long, Long, Long, Long, Option[Long])].collect().toSet
    assert(streaming == batch,
      s"stream-only: ${streaming.diff(batch)}; batch-only: ${batch.diff(streaming)}")
  }

  test("stream-stream interval join (watermarked attribution) == batch join of the union") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamJoin
    import graft.streaming.StreamJoin.{ClickEv, ViewEv}
    val sfDir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val views = evs.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts_us"))
      .as[ViewEv].collect().sortBy(_.ts_us)
    val clicks = evs.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      .as[ClickEv].collect().sortBy(_.ts_us)
    // split both streams at the same wall-clock instant so neither
    // side's watermark races past unplayed data on the other
    val cut = (views.map(_.ts_us) ++ clicks.map(_.ts_us)).sorted.apply(
      (views.length + clicks.length) / 2)
    val vs = MemoryStream[ViewEv]
    val cs = MemoryStream[ClickEv]
    val q = StreamJoin.attributed(vs.toDF(), cs.toDF())
      .writeStream.format("memory").queryName("attr_mem").outputMode("append").start()
    vs.addData(views.filter(_.ts_us <= cut).toSeq)
    cs.addData(clicks.filter(_.ts_us <= cut).toSeq)
    q.processAllAvailable()
    vs.addData(views.filter(_.ts_us > cut).toSeq)
    cs.addData(clicks.filter(_.ts_us > cut).toSeq)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_mem")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val batch = StreamJoin.attributed(
        spark.createDataset(views.toSeq).toDF(),
        spark.createDataset(clicks.toSeq).toDF())
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(batch.nonEmpty, "attribution fixture is vacuous — no view-click pair in horizon")
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(5)}; batch-only: ${batch.diff(streamed).take(5)}")
  }

  test("left-outer stream-stream join: abandonment rows emit after the watermark passes") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.StreamJoin
    import graft.streaming.StreamJoin.{ClickEv, ViewEv}
    val sfDir = "/root/testdata/sf0.001"
    val evs = Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("ts div 1000").as("ts_us"))
    val views = evs.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts_us"))
      .as[ViewEv].collect().sortBy(_.ts_us)
    val clicks = evs.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts_us"))
      .as[ClickEv].collect().sortBy(_.ts_us)
    val maxTs = (views.map(_.ts_us) ++ clicks.map(_.ts_us)).max
    // sentinels far past max + horizon + watermark advance both
    // sides' watermarks so every real view's horizon has expired
    val sentinelTs = maxTs + 10L * 3600 * 1000000
    val vs = MemoryStream[ViewEv]
    val cs = MemoryStream[ClickEv]
    val q = StreamJoin.attributedOuter(vs.toDF(), cs.toDF())
      .writeStream.format("memory").queryName("attr_outer_mem")
      .outputMode("append").start()
    vs.addData(views.toSeq)
    cs.addData(clicks.toSeq)
    q.processAllAvailable()
    vs.addData(Seq(ViewEv(-1L, -1L, sentinelTs)))
    cs.addData(Seq(ClickEv(-2L, -1L, sentinelTs)))
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("attr_outer_mem")
      .filter(col("view_id") =!= -1L) // drop the sentinel's own row(s)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    // batch oracle: inner matches + left-anti abandonment
    val vDf = spark.createDataset(views.toSeq).toDF()
    val cDf = spark.createDataset(clicks.toSeq).toDF()
    val inner = StreamJoin.attributed(vDf, cDf)
      .select(col("view_id"), col("user_id"), col("view_ts_us"),
        col("click_id"), col("click_ts_us"))
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    val abandoned = StreamJoin.attributedOuter(vDf, cDf)
      .filter(col("click_id").isNull)
      .as[(Long, Long, Long, Option[Long], Option[Long])].collect().toSet
    assert(abandoned.nonEmpty, "fixture vacuous: every view converted")
    val expected = inner ++ abandoned
    assert(streamed == expected,
      s"stream-only: ${streamed.diff(expected).take(5)}; batch-only: ${expected.diff(streamed).take(5)}")
  }

  test("streaming sequence packing (O(1)-per-lang state) == batch q81, partial tails included") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.SequencePacking
    import graft.streaming.SequencePacking.Doc
    val sfDir = "/root/testdata/sf0.001"
    // Real corpus docs in doc_id order, split into three micro-batches
    // — per-language doc_id never regresses across the split (the
    // documented ordering contract); the final batch carries the
    // end-of-corpus flush markers that emit each language's partial
    // tail sequence.
    val docs = Tables.documents(spark, sfDir)
      .select(col("lang"), col("doc_id"), col("text"),
        org.apache.spark.sql.functions.lit(false).as("flush"))
      .as[Doc].collect().sortBy(_.doc_id)
    val (b1, rest) = docs.splitAt(docs.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val markers = docs.map(_.lang).distinct.map(SequencePacking.flushMarker)
    val stream = MemoryStream[Doc]
    val q = SequencePacking.packed(stream.toDS())
      .writeStream.format("memory").queryName("pack_mem").outputMode("append").start()
    Seq(b1.toSeq, b2.toSeq, b3.toSeq ++ markers).foreach { b =>
      stream.addData(b); q.processAllAvailable()
    }
    q.stop()
    val streaming = spark.table("pack_mem")
      .as[(String, Long, Long, Long, String)].collect().toSet
    val batch = SparkEntry.queries("q81_sequence_packing")(spark, sfDir)
      .as[(String, Long, Long, Long, String)].collect().toSet
    assert(streaming == batch,
      s"stream-only: ${streaming.diff(batch)}; batch-only: ${batch.diff(streaming)}")
    // Append mode must emit each sequence exactly once across batches.
    assert(spark.table("pack_mem").count() == streaming.size)
  }

  test("log-quantile sketch: 3-batch streamed state == batch sketch, estimates within the alpha guarantee") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.{ExactMedian, LogQuantile}
    val sfDir = "/root/testdata/sf0.001"
    val ps = Seq("p50" -> 0.5, "p95" -> 0.95)
    val rows = Tables.lineitem(spark, sfDir)
      .select(col("l_returnflag"), col("l_extendedprice").cast("double"))
      .as[(String, Double)].collect()
    val (b1, rest) = rows.splitAt(rows.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[(String, Double)]
    val q = LogQuantile.sketch(stream.toDS().toDF("l_returnflag", "v"),
        Seq("l_returnflag"), col("v"))
      .writeStream.format("memory").queryName("lq_mem").outputMode("complete").start()
    Seq(b1, b2, b3).foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    def skSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val batchSk = LogQuantile.sketch(
      Tables.lineitem(spark, sfDir)
        .select(col("l_returnflag"), col("l_extendedprice").cast("double").as("v")),
      Seq("l_returnflag"), col("v"))
    // The streamed state IS the batch sketch, bucket for bucket (the
    // mergeability that makes it a plain update-mode aggregation).
    // (Round-tripped through rows: quantiles() self-joins its input,
    // and Spark cannot deduplicate attribute ids through a
    // memory-sink view.)
    val streamedSk = spark.createDataFrame(
      spark.table("lq_mem").collectAsList(), spark.table("lq_mem").schema)
    assert(skSet(streamedSk) == skSet(batchSk))
    // Extraction from the streamed state = extraction from the batch
    // sketch, and every estimate sits within the alpha guarantee of
    // the exact discrete quantile.
    def est(df: org.apache.spark.sql.DataFrame) =
      LogQuantile.quantiles(df, Seq("l_returnflag"), ps)
        .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val fromStream = est(streamedSk)
    assert(fromStream == est(batchSk))
    val exact = ExactMedian.quantilesDisc(
      Tables.lineitem(spark, sfDir).filter(col("l_extendedprice") > 0),
      "l_returnflag", "l_extendedprice", ps)
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    fromStream.foreach { case (k, (e50, e95)) =>
      val (x50, x95) = exact(k)
      assert(math.abs(e50 - x50) / x50 <= LogQuantile.Alpha * 1.001, s"$k p50: $e50 vs $x50")
      assert(math.abs(e95 - x95) / x95 <= LogQuantile.Alpha * 1.001, s"$k p95: $e95 vs $x95")
    }
  }

  test("count-min cells: 3-batch streamed state == batch sketch, cell for cell") {
    implicit val sqlCtx = spark.sqlContext
    val sfDir = "/root/testdata/sf0.001"
    // q128's sketch build is a plain (r, bucket) count — the
    // mergeability claim ("partition-local sketches merge by
    // cell-wise sum") IS update-mode streamability; this pins it.
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select(posexplode(array((0 until 4).map(r =>
        expr(s"cast(conv(substring(md5(term), ${1 + 6 * r}, 6), 16, 10) as bigint) % 256")): _*))
        .as(Seq("r", "bucket")))
        .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("cnt"))
    val toks = Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))
      .as[String].collect()
    val (b1, rest) = toks.splitAt(toks.length / 3)
    val (b2, b3) = rest.splitAt(rest.length / 2)
    val stream = MemoryStream[String]
    val q = cells(stream.toDS().toDF("term"))
      .writeStream.format("memory").queryName("cms_mem").outputMode("complete").start()
    Seq(b1, b2, b3).foreach { b => stream.addData(b.toSeq); q.processAllAvailable() }
    q.stop()
    def cellSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = cellSet(spark.table("cms_mem"))
    val batch = cellSet(cells(Tables.documents(spark, sfDir)
      .select(explode(split(col("text"), " ")).as("term"))))
    assert(streamed == batch,
      s"stream-only: ${streamed.diff(batch).take(5)}; batch-only: ${batch.diff(streamed).take(5)}")
  }
}
