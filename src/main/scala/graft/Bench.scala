package graft

import org.apache.spark.sql.SparkSession
import org.json4s.{JArray, JDecimal, JInt, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.compact

/** Driver-run benchmark: a full JSON line with per-query wall-clock
  * over SPARK_GRAFT_SF_DIR, then a compact summary line LAST (the
  * driver tail-captures stdout; the compact line survives any
  * front-truncation of the full one). Queries run in name order after
  * a short untimed warmup (JVM/codegen/file-index startup otherwise
  * lands on whichever query happens to run first and distorts its
  * number).
  *
  * Between queries every cached relation is dropped: each query's
  * persist() calls are intra-query materializations, and letting 56
  * queries' caches accumulate turns the tail of the bench into a
  * GC/eviction exercise that punishes whichever heavy query runs last
  * (round 1: q54 measured 10× slower under the driver's heap than
  * alone). Cross-query reuse goes through parquet stages (see
  * queries.Domain), never the cache.
  *
  * A query that throws is reported with elapsed -1 and its error class
  * under "errors" — a failure must be distinguishable from a fast
  * query in the JSON.
  *
  * Each query is materialized through the `noop` sink, NOT count():
  * count() lets Catalyst prune every column a pure-projection query
  * computes (a signature query ending in select+orderBy times as a
  * bare scan), while the noop write evaluates every output row in
  * full — the number the user of the query would actually pay.
  *
  * Each query runs SPARK_GRAFT_BENCH_RUNS times (default 2) and the
  * per-query MINIMUM is reported: single-shot numbers on a shared VM
  * swing ±50% (observed same-commit totals of 64 s and 103 s), and
  * the minimum is the standard low-noise estimator of a deterministic
  * computation's cost.
  *
  * Every run is recorded by [[Telemetry.measure]], once for its
  * construct phase and once for its execute phase: the generated
  * classes the JVM compiled while it ran and their summed compile
  * seconds (all threads), so a codegen cache that thrashes shows as a
  * counter instead of as wall-clock; its stop-the-world GC seconds, so
  * a reader can tell a regressed plan from a noisy heap; and the Spark
  * jobs its construct phase started.
  *
  * The lossless JSON line also lands in `$SPARK_GRAFT_BENCH_OUT`,
  * which defaults to `BENCH_full.json` for a full-registry run only: a
  * subset run (the way to time a few queries) writes no file unless
  * one is named.
  */
object Bench {
  /** One run of one query: wall-clock (-1 on failure) and what its
    * construct phase (building the DataFrame: eager collects,
    * first-touch stage builds, schema reads) and its execute phase
    * (the noop write) cost. */
  private final case class Sample(elapsed: Double,
      construct: Telemetry.Record, execute: Telemetry.Record) {
    def gcSec: Double = (construct.gcMillis + execute.gcMillis) / 1e3
    def compiles: Long = construct.compiles + execute.compiles
    def compileSec: Double = construct.compileSec + execute.compileSec
    def constructJobs: Long = construct.jobs.size.toLong
  }

  /** Evaluate a query through the `noop` sink: every output row in
    * full, nothing kept. */
  private[graft] def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = BenchSession.create()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warmup: JVM + whole-stage-codegen compile + parquet
    // footer reads, so per-query numbers measure the queries.
    try materialize(SparkEntry.entry(spark))
    catch { case _: Throwable => () }

    val maxRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt.max(1)
    // Don't let repetition blow the wall-clock budget in a slow
    // environment: further passes run only while cumulative bench time
    // stays under this bound (first pass always runs). The default
    // scales with the registry, max(780, 6 s x queries), so a complete
    // warm second pass fits; SPARK_GRAFT_BENCH_BUDGET_SEC overrides.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Optional subset (the Verify convention): extra args = bench only
    // these queries; unknown names fail loudly.
    val only = args.toSet
    only.foreach(n => require(SparkEntry.queries.contains(n), s"unknown query: $n"))
    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    val budgetSec = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC").map(_.toInt)
      .getOrElse(math.max(780, 6 * sorted.size))

    // A Throwable, not NonFatal: a query that overflows the stack is
    // one failed query, not a failed bench.
    def attempt[T](f: => T): Either[Throwable, T] =
      try Right(f) catch { case e: Throwable => Left(e) }

    val benchStart = System.nanoTime()
    def spentSec: Double = (System.nanoTime() - benchStart) / 1e9
    def runOne(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Sample = {
      val (built, construct) = Telemetry.measure(spark)(attempt(fn(spark, sfDir)))
      val (ran, execute) = Telemetry.measure(spark)(built.flatMap(df => attempt(materialize(df))))
      // class+message, not just the class: round 9 recorded bare
      // "IllegalStateException" and cost a full diagnosis cycle that
      // e.toString ("Recursive update") would have skipped.
      ran.left.foreach(e => errors += name -> e.toString.take(200))
      spark.sharedState.cacheManager.clearCache()
      Sample(if (ran.isRight) construct.wallSec + execute.wallSec else -1.0, construct, execute)
    }

    val samples = scala.collection.mutable.LinkedHashMap(
      sorted.map { case (name, _) => name -> scala.collection.mutable.ListBuffer.empty[Sample] }: _*)
    var fullPasses = 0
    // Pass 1 always runs in full. Later passes run SLOWEST-FIRST with
    // a per-query budget gate: the queries an outlier distorts most
    // get their second measurement first, and a pass interrupted by
    // the budget still leaves min-of-2 coverage where it matters
    // (runs_per_query in the JSON records exactly what each query
    // got; `runs` reports the number of COMPLETE passes).
    for (run <- 1 to maxRuns if run == 1 || spentSec < budgetSec) {
      val order =
        if (run == 1) sorted
        else sorted.sortBy { case (name, _) =>
          -samples(name).map(_.elapsed).foldLeft(0.0)(math.max) }
      var complete = true
      order.foreach { case (name, fn) =>
        if (run == 1 || spentSec < budgetSec) samples(name) += runOne(name, fn)
        else complete = false
      }
      if (complete) fullPasses += 1
    }
    // Targeted reruns (round-4 verdict: the driver's 26.6 s q61 was a
    // budget-exhausted SINGLE-SHOT reading on a shared VM). When the
    // budget gate stopped full passes after one, the slowest queries —
    // exactly the ones an outlier distorts most — get an individual
    // second measurement inside a bounded grace window, so no headline
    // number is ever min-of-one while time remains.
    // maxRuns > 1 gate: an EXPLICIT SPARK_GRAFT_BENCH_RUNS=1 means
    // single-shot was asked for — grace reruns would both spend time
    // the caller opted out of and report min-of-2 for a subset. The
    // all-size-1 gate skips the grace when a PARTIAL pass 2 already
    // gave the slowest queries their second run (it covers the same
    // queries the grace would).
    if (fullPasses == 1 && maxRuns > 1 && samples.values.forall(_.size == 1)) {
      // The grace window is RELATIVE to when passes stopped (a slow
      // pass 1 must not consume it, or the driver environment — the
      // exact case this exists for — would still emit single-shots).
      val graceEnd = spentSec + budgetSec / 4.0
      val slowestFirst = samples.toSeq
        .filter { case (_, ss) => ss.forall(_.elapsed >= 0) }
        .sortBy { case (_, ss) => -ss.map(_.elapsed).min }
      val byName = sorted.toMap
      slowestFirst.foreach { case (name, ss) =>
        if (spentSec < graceEnd) ss += runOne(name, byName(name))
      }
    }
    val runs = fullPasses
    // Per query: min wall-clock across its runs, with the gc time of
    // the SAME run (gc of a discarded slow run would overstate the
    // cost of the reported number). A query that failed in ANY run
    // reports -1 (visible in errors).
    val results = sorted.map { case (name, _) =>
      val ts = samples(name)
      name -> (if (ts.exists(_.elapsed < 0)) (-1.0, -1.0)
               else { val m = ts.minBy(_.elapsed); (m.elapsed, m.gcSec) })
    }
    // ---- streaming micro-bench (one AvailableNow pass per path) ----
    // rows/sec for each streaming maintenance path over sf-derived
    // backlogs: the batch queries above never exercise the
    // foreachBatch + versioned-merge machinery, so without this block
    // the bench says nothing about ingest throughput. Skipped for
    // subset runs (the driver's full invocation always records it).
    val streaming = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (only.isEmpty) {
      import org.apache.spark.sql.functions._
      def rate(name: String, rows: Long)(run: => Unit): Unit =
        try {
          val t0 = System.nanoTime()
          run
          streaming += name -> rows / ((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable => errors += s"streaming:$name" -> e.toString.take(200) }
      val tmpPath = java.nio.file.Files.createTempDirectory("graft_bench_stream")
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def del(f: java.io.File): Unit = {
          Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
        }
        del(tmpPath.toFile)
      }))
      val tmp = tmpPath.toString
      // 1. match-ingest -> silver -> bucketed gold (Incremental)
      val bronze = graft.queries.Domain.bronzeFromOrders(Tables.orders(spark, sfDir))
        .withColumn("timestamp", to_timestamp(lit(1700000000L)))
      val nBronze = bronze.count()
      bronze.write.parquet(s"$tmp/bronze")
      val summoners = graft.queries.Domain.dimFromCustomer(Tables.customer(spark, sfDir))
      rate("incremental_gold", nBronze) {
        graft.streaming.Incremental.runOnce(spark, s"$tmp/bronze", summoners,
          s"$tmp/silver", s"$tmp/gold", s"$tmp/ckpt_inc").awaitTermination()
      }
      // 2. corpus curation ingest (Gopher gate + fingerprint dedup)
      val docs = Tables.documents(spark, sfDir)
        .select(col("doc_id"), to_timestamp(lit(1700000000L)).as("ingest_ts"),
          col("lang"), col("text"))
      val nDocs = docs.count()
      docs.write.parquet(s"$tmp/docs")
      rate("corpus_ingest", nDocs) {
        val schema = graft.operators.ParquetRead.sourceSchema(spark, s"$tmp/docs")
        val in = spark.readStream.schema(schema).parquet(s"$tmp/docs")
        graft.streaming.CorpusIngest.curatedStream(in)
          .writeStream.format("parquet")
          .option("path", s"$tmp/curated")
          .option("checkpointLocation", s"$tmp/ckpt_corpus")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start().awaitTermination()
      }
      // 3. ANN-index tombstone stream (seed excluded from the rate)
      val baseIdx = Tables.embeddings(spark, sfDir)
        .select(col("vec_id"), pmod(col("vec_id"), lit(64)).cast("int").as("cell"))
      graft.streaming.TombstoneIngest.seed(spark, s"$tmp/idx", baseIdx)
      val deletes = Tables.embeddings(spark, sfDir)
        .filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), to_timestamp(lit(1700000000L)).as("timestamp"))
      val nDel = deletes.count()
      deletes.write.parquet(s"$tmp/deletes")
      rate("tombstone_ingest", nDel) {
        graft.streaming.TombstoneIngest.runOnce(spark, s"$tmp/deletes",
          s"$tmp/idx", s"$tmp/ckpt_tomb").awaitTermination()
      }
      // 4. streaming navigable-graph maintenance: q175's frozen-layer
      // attach as a stream over the delta-vector backlog (seed — the
      // pre-existing base index — excluded from the rate, as with the
      // tombstone path)
      val (baseM, deltaM) = graft.queries.Clustering.navPopulations(spark, sfDir)
      val (bHub, bSH) = graft.queries.Clustering.navFrozenLayers(spark, sfDir)
      graft.streaming.GraphIngest.seed(spark, s"$tmp/graph",
        graft.queries.Clustering.navBaseGraph(spark, sfDir))
      val deltaEv = deltaM.select(col("vec_id"), col("fcid"), col("embedding"))
        .withColumn("timestamp", to_timestamp(lit(1700000000L)))
      val nDelta = deltaEv.count()
      deltaEv.write.parquet(s"$tmp/gdeltas")
      rate("graph_ingest", nDelta) {
        graft.streaming.GraphIngest.runOnce(spark, s"$tmp/gdeltas",
          s"$tmp/graph", s"$tmp/ckpt_graph", baseM, bHub, bSH).awaitTermination()
      }
      // 5. streaming quantile sketch serving (events backlog)
      val ev = Tables.events(spark, sfDir)
        .select(col("event_type"), col("value"))
      val nEv = ev.count()
      ev.write.parquet(s"$tmp/events")
      rate("quantile_serve", nEv) {
        graft.streaming.QuantileServe.runOnce(spark, s"$tmp/events",
          Seq("event_type"), "value", s"$tmp/sketch", s"$tmp/ckpt_q").awaitTermination()
      }
    }

    // 3dp is below measurement noise; keeping the line short matters
    // because the driver captures the TAIL of the output — the
    // wall-time map goes LAST so truncation from the front can never
    // eat it (round 3 lost the per-query times that way).
    def r3(v: Double): JValue =
      JDecimal(BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP))
    def obj[V](kvs: Iterable[(String, V)])(f: V => JValue): JObject =
      JObject(kvs.map { case (k, v) => k -> f(v) }.toList)
    val total = results.map(_._2._1).filter(_ >= 0).sum
    // Pinned scaled-bench protocol (round 15): the 100× total swung
    // +64% between r13 and r14 purely on accounting (RUNS=1 folds
    // first-touch Staged builds into whichever query triggers them;
    // RUNS=2 re-measures warm), so the record now carries BOTH
    // conventions as explicit MEASURED fields every run:
    //   cold_stage_total — Σ of the per-stage build seconds (the
    //     stage_build_sec map summed; engine work the per-query
    //     minimums exclude when a warm pass runs — Staged records
    //     EXCLUSIVE per-stage time since r16, so nested builds are
    //     not double-counted in this sum, ADVICE r15);
    //   warm_serve_total — Σ over queries of the minimum elapsed
    //     among runs AFTER the first (a measured warm pass, never
    //     cold-minus-stage subtraction); warm_covered says how many
    //     queries actually got one (= n for the protocol run:
    //     RUNS=2 with a budget admitting the full second pass).
    // Round-over-round comparisons read warm_serve_total +
    // cold_stage_total, never the mixed `value` total.
    val warmMins = sorted.map { case (name, _) =>
      val later = samples(name).drop(1).map(_.elapsed).filter(_ >= 0)
      if (later.isEmpty) None else Some(later.min)
    }
    val stageTimings = graft.operators.Staged.buildTimings.toSeq.sortBy(-_._2)
    val head = List(
      "metric" -> JString("total"), "value" -> r3(total), "unit" -> JString("sec"),
      "sf" -> JString(sfDir), "runs" -> JInt(runs), "wall_sec" -> r3(spentSec),
      "n_errors" -> JInt(errors.size),
      "cold_stage_total" -> r3(stageTimings.map(_._2).sum),
      "warm_serve_total" -> r3(warmMins.flatten.sum),
      "warm_covered" -> JInt(warmMins.count(_.isDefined)),
      // Codegen compiles summed over pass 1 (cold) and over every later
      // run (warm): a warm total near the cold one means the generated
      // class cache is evicting the working set.
      "compiles_cold" -> JInt(samples.values.map(_.head.compiles).sum),
      "compiles_warm" -> JInt(samples.values.flatMap(_.drop(1)).map(_.compiles).sum),
      // Construct-time Spark jobs, summed the same way.
      "construct_jobs_cold" -> JInt(samples.values.map(_.head.constructJobs).sum),
      "construct_jobs_warm" -> JInt(samples.values.flatMap(_.drop(1)).map(_.constructJobs).sum))
    // Metaspace holds the generated classes the codegen cache keeps
    // alive; read at the end so the cost of the cache size is visible.
    val metaspaceMb = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
        .find(_.getName == "Metaspace").fold(-1.0)(_.getUsage.getUsed / 1048576.0)
    }
    // streaming: rows/sec per streaming path (VERDICT r10 #5);
    // stage_build_sec: per-stage build seconds (#6: stage builds are
    // engine work the min-of-runs per-query numbers exclude — this map
    // itemizes the wall/total gap).
    val full = compact(JObject(head ++ List(
      "errors" -> obj(errors)(JString(_)),
      "streaming" -> obj(streaming)(r3),
      "stage_build_sec" -> obj(stageTimings)(r3),
      "runs_per_query" -> obj(samples)(ss => JInt(ss.size)),
      "metaspace_mb" -> r3(metaspaceMb),
      "gc_sec" -> obj(results) { case (_, g) => r3(g) },
      // Per query, one entry per run in run order (pass 1 first).
      "compiles" -> obj(samples)(ss => JArray(ss.map(s => JInt(s.compiles): JValue).toList)),
      "compile_sec" -> obj(samples)(ss => JArray(ss.map(s => r3(s.compileSec)).toList)),
      "construct_jobs" ->
        obj(samples)(ss => JArray(ss.map(s => JInt(s.constructJobs): JValue).toList)),
      "queries" -> obj(results) { case (v, _) => r3(v) })))
    println(full)
    // The driver snapshot keeps only a stdout TAIL, which amputated
    // the per-query map from the r11 artifact — so the LOSSLESS line
    // also lands in a file (committed per round as BENCH_full_r<N>),
    // and the compact last line folds in the small streaming/stage
    // maps so the tail alone still carries them.
    sys.env.get("SPARK_GRAFT_BENCH_OUT").orElse(Option.when(only.isEmpty)("BENCH_full.json"))
      .foreach { outPath =>
        try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
          (full + "\n").getBytes("UTF-8")): Unit
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench: could not write $outPath: $e") }
      }
    // Round 17 (VERDICT r16 #2): the compact line no longer carries the
    // full stage_build_sec map — at 100+ stages with dir-qualified keys
    // it had grown past ~4.5 KB, and the driver's stdout TAIL capture
    // front-truncated INTO it (r14/r15 artifacts: `parsed: null`, so
    // PERF had no round-over-round data three rounds running). The
    // compact fallback line must fit any plausible tail window (~1 KB
    // now); the full map still lands in the first (full) JSON line AND
    // in the $SPARK_GRAFT_BENCH_OUT file, and its SUM stays on the
    // compact line as cold_stage_total. Only the top-8 stages ride
    // along (dir suffix stripped) so the tail alone still names the
    // heavy builds.
    println(compact(JObject(head ++ List(
      "top10" -> obj(results.sortBy(-_._2._1).take(10)) { case (v, _) => r3(v) },
      "streaming" -> obj(streaming)(r3),
      "stage_top8_sec" -> obj(stageTimings.take(8)
        .map { case (k, v) => k.replace("|" + sfDir, "") -> v })(r3)))))
    spark.stop()
  }
}
