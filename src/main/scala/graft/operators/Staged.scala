package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Per-JVM parquet staging for deterministic intermediate tables.
  *
  * An in-memory `persist()` of a shared intermediate is exposed to
  * cache eviction under heap pressure: the round-1 driver bench
  * evicted q25's shared silver mid-run and silently turned it into a
  * full recompute of a plan it never declared. A parquet stage is the
  * production answer — the artifact a pipeline would persist to
  * storage anyway — and cannot be evicted. Staging lands in a per-JVM
  * temp dir, so cross-process runs always rebuild (no staleness) while
  * in-process consumers (bench, verify, downstream stages) reuse it.
  *
  * `build` MUST be deterministic in `key`: the stage is written once
  * per key per JVM and read thereafter.
  *
  * Builds are NEVER run inside `ConcurrentHashMap.computeIfAbsent`:
  * stages nest (q136's kNN graph stages on top of the staged
  * hierarchical-clustering chain), and a nested `computeIfAbsent` on
  * the same map throws `IllegalStateException: Recursive update` when
  * the inner insert lands during a resize (state-dependent — it needs
  * the ~20+ keys a full-suite pass accumulates, which is exactly why
  * it only ever fired in the full driver bench, never in isolation).
  * Instead `computeIfAbsent` only installs a cheap per-key lazy
  * holder; the build evaluates OUTSIDE the map update, where nested
  * staging is plain nested lazy initialization on distinct objects.
  * The lazy val also dedups concurrent builds of the same key, and a
  * failed build is retried on next access rather than memoized.
  */
object Staged {
  // Stages live for the JVM; the shutdown hook bounds the DISK
  // lifetime too (a long-lived session staging corpus-sized artifacts
  // across many input dirs would otherwise grow the temp dir without
  // bound). Best-effort: a kill -9 leaves the dir to the OS tmp
  // reaper, which is the standard contract for temp dirs.
  private lazy val root: java.nio.file.Path = {
    val p = java.nio.file.Files.createTempDirectory("graft-stage")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def del(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(del)); f.delete(): Unit
      }
      del(p.toFile)
    }))
    p
  }

  private final class Holder(build: () => String) {
    lazy val value: String = build()
  }
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Holder]()

  private def stagePath(k: String): String =
    root.resolve(
      k.replaceAll("[^A-Za-z0-9._-]", "_") + "_" + Integer.toHexString(k.hashCode)).toString

  /** Evaluate a holder, evicting it from the memo on failure so a
    * later call installs a FRESH holder (a memoized holder pins its
    * original build closure — without eviction a transient failure
    * would replay forever). `remove(key, holder)` is value-conditional
    * so a concurrently re-installed holder is never clobbered. */
  private def evaluate(key: String, holder: Holder): String =
    try holder.value
    catch { case e: Throwable => memo.remove(key, holder); throw e }

  // Per-key build wall-clock, for the bench's `stage_build_sec` map:
  // stage builds are REAL engine work that the per-query minimums
  // exclude by design (a stage builds once per JVM, on whichever query
  // touches it first), so without this map the bench wall/total gap
  // reads as unexplained harness overhead.
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  /** Snapshot of (stage key → build seconds) for every stage built so
    * far in this JVM. Times are EXCLUSIVE: a stage that builds other
    * stages inside its own build (q136's kNN graph over the
    * clustering chain) has the inner builds' wall-clock subtracted,
    * so `buildTimings.values.sum` is total engine stage work with no
    * double-counting (the bench's `cold_stage_total`, ADVICE r15).
    * One caveat: if a nested stage is concurrently being built by
    * ANOTHER thread, this thread's lazy-holder WAIT counts toward the
    * outer build's exclusive time (the subtraction is per-thread);
    * bench/verify drive builds single-threaded, so in practice the
    * sum is exact. */
  def buildTimings: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  // Per-thread stack of in-flight builds: each frame accumulates the
  // inclusive seconds of the nested builds that complete under it, so
  // the owner can record total − inner (its exclusive time). A FAILED
  // nested build charges nothing anywhere (same contract as before:
  // only successful builds are recorded; its seconds surface inside
  // the parent's exclusive time if the parent still succeeds).
  private final class Frame { var innerSec: Double = 0.0 }
  private val frames: ThreadLocal[java.util.ArrayDeque[Frame]] =
    ThreadLocal.withInitial(() => new java.util.ArrayDeque[Frame]())

  /** SparkContext local property naming the stage whose build
    * submitted a job: set for the duration of a build, restored to the
    * enclosing build's key (or cleared) when it ends, so
    * `graft.Telemetry` reads it from each job's start event and
    * charges the job to the innermost build. Local properties are
    * inherited by the threads Spark SQL submits from (broadcast and
    * subquery futures capture them). */
  val StageProperty = "graft.stage"

  private def timed[T](s: SparkSession, key: String)(f: => T): T = {
    val st = frames.get()
    val me = new Frame
    st.push(me)
    val sc = s.sparkContext
    val outer = sc.getLocalProperty(StageProperty)
    sc.setLocalProperty(StageProperty, key)
    val t0 = System.nanoTime()
    val r = try f finally {
      sc.setLocalProperty(StageProperty, outer)
      st.pop(): Unit
    }
    val total = (System.nanoTime() - t0) / 1e9
    buildSecs.put(key, math.max(0.0, total - me.innerSec))
    if (!st.isEmpty) st.peek().innerSec += total
    r
  }

  def parquet(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    val holder = memo.computeIfAbsent(key, k => new Holder(() => timed(s, k) {
      val p = stagePath(k)
      val df = build
      df.write.mode("overwrite").parquet(p)
      // the schema it wrote: a stage never changes after it is written,
      // and Spark's writer stores this schema in the footer, so no
      // read of the stage runs a footer-reading job to infer it
      ParquetRead.record(s"stage|$k", df.schema)
      p
    }))
    ParquetRead(s, s"stage|$key", evaluate(key, holder))
  }

  /** Like [[parquet]] but hive-layout-partitioned by `partCol` — one
    * directory per value, so a downstream filter on the column prunes
    * at FILE-LISTING time (`PartitionFilters` in the scan, before any
    * footer is opened). This is the storage layout an ANN serving
    * index uses at 100 TB: the probe's nprobe cells select a handful
    * of directories out of the whole corpus.
    *
    * Caveat baked in here so callers can't get it wrong: a partition
    * column round-trips through DIRECTORY NAMES (inference alone would
    * bring an integral `cell` back as IntegerType, at the END of the
    * schema). The read path hands the reader the original type and
    * restores the original column order, so consumers and oracle
    * schemas see the exact pre-staging shape, and literal filters on
    * the column prune at listing time. */
  def partitionedParquet(s: SparkSession, key: String, partCol: String)
      (build: => DataFrame): DataFrame = {
    // Namespaced key: a caller-supplied key that collides with a plain
    // parquet() stage must NOT silently serve the unpartitioned layout
    // (no pruning). The namespace also makes the partition column part
    // of the identity, so the same table staged under two layouts stays
    // two stages.
    val nsKey = s"partitioned[$partCol]|$key"
    val holder = memo.computeIfAbsent(nsKey, k => new Holder(() => timed(s, k) {
      val p = stagePath(k)
      val df = build
      df.write.mode("overwrite").partitionBy(partCol).parquet(p)
      ParquetRead.record(s"stage|$k", df.schema)
      p
    }))
    val path = evaluate(nsKey, holder)
    // Read with the recorded pre-staging schema, so the partition
    // column's directory values parse as its original type; the reader
    // still moves a partition column to the end, so restore the order.
    import org.apache.spark.sql.functions.col
    ParquetRead(s, s"stage|$nsKey", path)
      .select(ParquetRead.recorded(s"stage|$nsKey").fieldNames.toIndexedSeq.map(col): _*)
  }
}
