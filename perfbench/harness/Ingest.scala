package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.domain.MatchTransform
import graft.queries.Domain
import graft.streaming.Incremental

/** The ingest workload: the reference's poll loop as a sequence of
  * ticks. Each tick lands one seeded slice of
  * `Domain.bronzeFromOrders(orders)` in the bronze directory, with a
  * quarter of the previous tick's matchIds delivered again (the
  * auto-refresh traffic), runs `Incremental.runOnce` to completion and
  * serves the per-champion gold read. The ingest clock advances
  * [[TickHours]] per tick, so a run spans several
  * `Incremental.DedupDelay` horizons and dedup state levels off while
  * re-deliveries still fall inside the horizon.
  *
  * Tick 0 is the cold tick (stream start-up in a fresh JVM); it is
  * reported as the cold pass and kept out of the tick statistics.
  * At least four warm ticks follow, and more until `seconds` have
  * elapsed or the slices run out.
  * In a traced run the listeners are attached on tick 0 and on the
  * warm ticks in the ABBA order the serve passes use.
  */
object Ingest {
  /** Slices the orders table is cut into; one lands per tick. */
  val Slices = 40
  val TickHours = 12L
  val Epoch = 1700000000L

  def run(
      spark: SparkSession,
      data: String,
      seed: Long,
      seconds: Double,
      trace: Option[Trace],
      work: Path,
      result: mutable.Map[String, Any]): Unit = {
    val minWarm = 4
    val bronzeDir = work.resolve("bronze")
    val landing = work.resolve("landing")
    val (silverDir, goldDir, ckpt) =
      (work.resolve("silver"), work.resolve("gold"), work.resolve("ckpt"))
    val orders = Tables.orders(spark, data)
      .withColumn("slice", pmod(xxhash64(col("o_orderkey"), lit(seed)), lit(Slices.toLong)))
      .withColumn("again", pmod(xxhash64(col("o_orderkey"), lit(seed + 1)), lit(4L)) === 0)
    val summoners = Domain.dimFromCustomer(Tables.customer(spark, data))
    Files.createDirectories(bronzeDir)

    val ticks = mutable.ArrayBuffer[Map[String, Any]]()
    var tick = 0
    var t0 = 0L
    while (tick < Slices && (tick <= minWarm || Harness.seconds(t0) < seconds)) {
      val traced = trace.isDefined && (tick == 0 || tick % 4 >= 2)
      trace.foreach(t => if (traced) t.attach() else t.detach())
      val rec = mutable.LinkedHashMap[String, Any]("tick" -> tick, "traced" -> traced)
      // Prepared outside the timed cycle, then landed by an atomic rename.
      val landedBytes = prepare(orders, tick, landing.resolve(s"tick$tick"))
      rec("rows_landed") = spark.read.parquet(landing.resolve(s"tick$tick").toString).count()
      rec("bytes_landed") = landedBytes
      val written0 = Seq(silverDir, goldDir, ckpt).map(Harness.bytesUnder).sum
      if (tick == 0) t0 = System.nanoTime()
      val tc = System.nanoTime()
      Files.list(landing.resolve(s"tick$tick")).iterator().asScala.toList
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.move(f, bronzeDir.resolve(s"tick$tick-${f.getFileName}")))
      try {
        trace.foreach(_.open())
        val ts = System.nanoTime()
        val q = Incremental.runOnce(spark, bronzeDir.toString, summoners,
          silverDir.toString, goldDir.toString, ckpt.toString)
        q.awaitTermination()
        rec("tick_s") = Harness.seconds(ts)
        trace.foreach(t => rec("stream") = t.close().fields.toMap)
        rec ++= progress(q.recentProgress.toSeq)

        trace.foreach(_.open())
        val tr = System.nanoTime()
        val read = perChampion(spark, goldDir.toString)
        rec("construct_s") = Harness.seconds(tr)
        trace.foreach(t => rec("construct") = t.close().fields.toMap)
        trace.foreach(_.open())
        val tm = System.nanoTime()
        rec("champions") = read.collect().length
        rec("materialize_s") = Harness.seconds(tm)
        trace.foreach(t => rec("execute") = t.close().fields.toMap)
        rec("read_s") = Harness.seconds(tr)
        rec("ok") = true
      } catch {
        case e: Throwable =>
          trace.foreach(_.close())
          rec("ok") = false
          rec("error") = Harness.error(e)
      }
      rec("cycle_s") = Harness.seconds(tc)
      rec("bytes_written") = Seq(silverDir, goldDir, ckpt).map(Harness.bytesUnder).sum - written0
      rec("gold_files") = Harness.filesUnder(goldDir, ".parquet")
      ticks += rec.toMap
      tick += 1
    }
    result("measured_s") = Harness.seconds(t0)
    result("ticks") = ticks.toSeq
    trace.foreach(_.detach())

    val tc = System.nanoTime()
    result("check") = check(spark, bronzeDir.toString, goldDir.toString, summoners)
    result("check_s") = Harness.seconds(tc)
  }

  /** Write tick `i`'s bronze slice (its own rows plus the re-delivered
    * quarter of slice i-1), stamped with the tick's ingest time. */
  private def prepare(orders: DataFrame, i: Int, dir: Path): Long = {
    val rows = orders.filter(col("slice") === i || (col("slice") === i - 1 && col("again")))
    Domain.bronzeFromOrders(rows.drop("slice", "again"))
      .withColumn("timestamp", to_timestamp(lit(Epoch + i * TickHours * 3600L)))
      .coalesce(1).write.parquet(dir.toString)
    Harness.bytesUnder(dir)
  }

  /** The per-champion aggregate served from gold after each tick. */
  private def perChampion(spark: SparkSession, goldDir: String): DataFrame =
    Incremental.readGold(spark, goldDir).get
      .groupBy(col("champion"))
      .agg(sum(col("games")).as("games"), sum(col("wins")).as("wins"),
        sum(col("kda_sum")).as("kda_sum"))

  /** Micro-batch split and state figures from the tick's progress events. */
  private def progress(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Map[String, Any] = {
    def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)).sum / 1e3
    val state = ps.flatMap(_.stateOperators.headOption)
    Map(
      "batches" -> ps.count(_.numInputRows > 0),
      "input_rows" -> ps.map(_.numInputRows).sum,
      "trigger_s" -> dur("triggerExecution"),
      "batch_add_s" -> dur("addBatch"),
      "batch_plan_s" -> dur("queryPlanning"),
      "batch_commit_s" -> (dur("commitOffsets") + dur("walCommit")),
      "state_rows" -> state.lastOption.map(_.numRowsTotal).getOrElse(0L),
      "state_bytes" -> state.lastOption.map(_.memoryUsedBytes).getOrElse(0L),
      "state_rows_updated" -> state.map(_.numRowsUpdated).sum,
      "rows_dropped_by_watermark" -> state.map(_.numRowsDroppedByWatermark).sum)
  }

  /** Final gold must equal the batch recomputation of gold over the
    * de-duplicated landed input. Returns the mismatch count and detail. */
  private def check(spark: SparkSession, bronzeDir: String, goldDir: String,
      summoners: DataFrame): Map[String, Any] = {
    val key = Seq("puuid", "champion")
    def rows(df: DataFrame): Map[Seq[Any], Row] =
      df.select("puuid", "champion", "games", "wins", "kda_sum").collect()
        .map(r => Seq(r.get(0), r.get(1)) -> r).toMap
    val landed = spark.read.parquet(bronzeDir).dropDuplicates("matchId")
    val expected = rows(MatchTransform.goldFromSilver(
      MatchTransform.silver(landed, summoners).drop(MatchTransform.TierCol)))
    val actual = rows(Incremental.readGold(spark, goldDir).get)
    val keys = expected.keySet ++ actual.keySet
    val bad = keys.toSeq.filter { k =>
      (expected.get(k), actual.get(k)) match {
        case (Some(e), Some(a)) =>
          e.getLong(2) != a.getLong(2) || e.getLong(3) != a.getLong(3) ||
            math.abs(e.getDouble(4) - a.getDouble(4)) > 1e-9 * math.max(1.0, math.abs(e.getDouble(4)))
        case _ => true
      }
    }
    Map("keys" -> keys.size, "mismatches" -> bad.size,
      "examples" -> bad.take(3).map(k => s"${key.zip(k).mkString(",")}: " +
        s"expected=${expected.get(k)} actual=${actual.get(k)}"))
  }
}
