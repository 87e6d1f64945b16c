package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Guards `Tables.events` against test-data generator drift: the `ts`
  * column has shipped both as parquet TIMESTAMP(NANOS) (readable only
  * as a raw LongType via `nanosAsLong`) and as plain timestamp[us]
  * (TIMESTAMP_NTZ). Round 6 lost all 11 event queries to exactly this
  * drift — the generator switched nanos→micros and every
  * `ts div <nanos>` expression stopped resolving. The loader must
  * normalize ANY physical shape to epoch-nanos LongType so downstream
  * integer bucketing never sees a timestamp.
  */
class TablesSpec extends SparkSuite {

  private def writeEvents(df: org.apache.spark.sql.DataFrame): String = {
    val dir = Files.createTempDirectory("graft-tables").toString
    df.coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // 2024-03-01T12:34:56.789012 UTC — epoch micros (exact in a Long).
  private val epochUs = 1709296496789012L

  test("events: timestamp[us] (NTZ) ts is normalized to epoch-nanos LongType") {
    import spark.implicits._
    val dir = writeEvents(
      Seq((1L, epochUs, 7L, "click", 1.5, """{"k":1}"""))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"),
          timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")))
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == LongType)
    assert(out.select("ts").as[Long].head() == epochUs * 1000L)
  }

  test("events: tz-aware timestamp ts is normalized to epoch-nanos LongType") {
    import spark.implicits._
    val dir = writeEvents(
      Seq((1L, new Timestamp(epochUs / 1000), 7L, "view", 2.5, """{"k":2}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == LongType)
    // java.sql.Timestamp carries millis here; nanos = millis * 1e6.
    assert(out.select("ts").as[Long].head() == (epochUs / 1000) * 1000000L)
  }

  test("events: LongType ts (nanos-as-long era) passes through untouched") {
    import spark.implicits._
    val nanos = epochUs * 1000L
    val dir = writeEvents(
      Seq((1L, nanos, 7L, "error", 3.5, """{"k":3}"""))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    val out = Tables.events(spark, dir)
    assert(out.schema("ts").dataType == LongType)
    assert(out.select("ts").as[Long].head() == nanos)
  }

  test("events: NTZ normalization is session-timezone independent (wall clock = UTC)") {
    import spark.implicits._
    val dir = writeEvents(
      Seq((1L, epochUs, 7L, "click", 1.5, """{"k":1}"""))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"),
          timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")))
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val out = Tables.events(spark, dir)
      assert(out.select("ts").as[Long].head() == epochUs * 1000L)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("a table rewritten in place is read with its new schema") {
    // Table reads reuse the schema the JVM inferred, keyed on the file's
    // length and modification time: a key on the path alone would read
    // the rewritten LongType ts as the NTZ it replaced.
    import spark.implicits._
    val nanos = epochUs * 1000L
    val dir = writeEvents(
      Seq((1L, epochUs, 7L, "click", 1.5, """{"k":1}"""))
        .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"),
          timestamp_micros(col("ts_us")).cast(TimestampNTZType).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")))
    assert(Tables.events(spark, dir).select("ts").as[Long].head() == nanos)
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == TimestampNTZType)
    Seq((1L, nanos + 1000L, 7L, "click", 1.5, """{"k":1}"""))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    assert(Tables.table(spark, dir, "events").schema("ts").dataType == LongType)
    assert(Tables.events(spark, dir).select("ts").as[Long].head() == nanos + 1000L)
  }

  test("a repeated table read starts no Spark job; a missing table fails as Spark's read does") {
    import spark.implicits._
    val dir = writeEvents(Seq((1L, epochUs)).toDF("event_id", "ts"))
    Tables.table(spark, dir, "events")
    val jobs = jobsDuring(Tables.table(spark, dir, "events"))
    assert(jobs.isEmpty, s"a repeated table read started ${jobs.size} jobs: $jobs")
    val missing = Files.createTempDirectory("graft-tables-missing").toString
    val e = intercept[org.apache.spark.sql.AnalysisException](Tables.orders(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND", e.getMessage)
  }

  test("a table read after an events read starts no job (one schema key per table)") {
    // A fresh session of the suite's SparkContext, as each streaming
    // query runs on. The events loader used to turn nanosAsLong on for
    // its session, which changed every table's schema key, so a table
    // read before the first events read inferred its schema again after it.
    import spark.implicits._
    val s = spark.newSession()
    val dir = writeEvents(Seq((1L, epochUs * 1000L)).toDF("event_id", "ts"))
    Seq((0L, "AFRICA")).toDF("r_regionkey", "r_name")
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    Tables.region(s, dir)
    Tables.events(s, dir)
    val jobs = jobsDuring(Tables.region(s, dir))
    assert(jobs.isEmpty, s"region read after events started ${jobs.size} jobs: $jobs")
  }
}
