package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MERGE-INTO-shaped semantics over plain parquet — the one API behind
  * every upsert in the reference (`update_one(..., upsert=True)`,
  * api_service/main.py:151; `$inc` counter merge,
  * transformer_loader/main.py:184-190). On Delta/Iceberg each of these
  * is literally `MERGE INTO`; no lakehouse format is on this classpath
  * (SURVEY.md §9), so this object makes the substitute's contract
  * explicit instead of leaving it spread across call sites:
  *
  *  - [[mergeLatestWins]] — WHEN MATCHED THEN UPDATE (replace): keep
  *    the highest-(version, tiebreak) row per key. One shuffle on the
  *    key.
  *  - [[mergeAggregate]] — WHEN MATCHED THEN UPDATE (accumulate,
  *    Mongo's `$inc`): union current state with the update set and
  *    re-aggregate per key. One shuffle; map-side partial combine.
  *  - [[mergeBucketed]] — the STORAGE form of mergeAggregate over the
  *    versioned bucket layout `dir/v=<epoch>/bucket=<hash(key) mod N>`:
  *    rewrites only the buckets the update set touches, each epoch's
  *    write is an idempotent overwrite of its own `v=` directory, and
  *    the merge reads the newest complete (`_SUCCESS`-gated) version
  *    BEFORE the current epoch — so an at-least-once retry recomputes
  *    from pre-epoch state instead of double-counting. [[readBucketed]]
  *    serves the current table; [[compact]] sweeps superseded versions.
  *
  * Scale: bucket count is the tuning grain (buckets ≈ executors × small
  * constant at 100 TB); a batch's IO is proportional to the buckets it
  * touches, not the table size, and the only driver-side
  * materialization is the ≤ numBuckets-row touched-bucket list.
  */
object MergeInto {

  /** Replace-resolution merge: highest (version, tiebreak) per key
    * survives. `tiebreak` must make (key, version, tiebreak) a total
    * order or the surviving row is nondeterministic. */
  def mergeLatestWins(target: DataFrame, updates: DataFrame,
      keys: Seq[String], version: Column, tiebreak: Column): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(version.desc, tiebreak.desc)
    target.unionByName(updates)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Accumulate-resolution merge: union + re-aggregate per key.
    * `updates` must already be at the key grain with the same counter
    * columns as the target; `aggs` are the counter-combining
    * aggregates (sums are associative, so batch-at-a-time application
    * equals one global aggregation — the property the retry spec
    * checks). A missing target (first batch) passes the updates
    * through. */
  def mergeAggregate(target: Option[DataFrame], updates: DataFrame,
      keys: Seq[String], aggs: Seq[Column]): DataFrame =
    target match {
      case Some(t) =>
        t.unionByName(updates)
          .groupBy(keys.map(col): _*)
          .agg(aggs.head, aggs.tail: _*)
      case None => updates
    }

  // ------- versioned bucket layout: dir/v=<epoch>/bucket=<b> -------

  /** Idempotent accumulate-merge of `updates` into the bucketed layout
    * at `dir` for epoch `epochId`. Only buckets present in `updates`
    * are read and rewritten; re-running with the same (updates,
    * epochId) — Spark's at-least-once batch retry — overwrites
    * `v=epochId` from pre-epoch state, never double-counts.
    *
    * SINGLE GLOBAL EPOCH SEQUENCE, ENFORCED: every epoch a layout ever
    * sees must come from ONE monotone sequence, even when several
    * maintenance paths (insert stream, delete stream, batch repair)
    * write the same directory — two independent batch-id counters that
    * collide on an epoch would have the second writer overwrite the
    * first's `v=` directory for shared buckets while merging from
    * pre-epoch state that EXCLUDES it, silently dropping that batch.
    * `writer` names the path; the first write of an epoch claims it
    * (atomic create of `_epochs/e=<epoch>`), a re-write by the SAME
    * writer is the legitimate at-least-once replay, and a write by a
    * DIFFERENT writer fails loudly instead of losing rows. Paths with
    * independent counters allocate collision-free epochs via
    * [[epochFor]]. Writes must still be serialized (one in-flight
    * merge per layout) — plain parquet has no cross-process commit
    * log; that is the documented single-writer-at-a-time contract. */
  def mergeBucketed(
      spark: SparkSession,
      dir: String,
      updates: DataFrame,
      keys: Seq[String],
      aggs: Seq[Column],
      epochId: Long,
      bucketOn: Column,
      numBuckets: Int,
      writer: String = ""): Unit = {
    val contrib = updates.withColumn("bucket", pmod(hash(bucketOn), lit(numBuckets)))
    val touched = contrib.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).sorted // bounded: <= numBuckets values
    if (touched.nonEmpty) {
      claimEpoch(spark, dir, epochId, writer)
      // Prior state read is DIRECTORY-pruned to the touched buckets
      // (readVersions opens only those bucket= dirs) — a batch's IO
      // really is proportional to the buckets it touches; a row-level
      // filter on the re-derived hash column could not prune files.
      val prior = readVersions(spark, dir, beforeEpoch = Some(epochId),
        buckets = Some(touched.toSet))
        .map(_.withColumn("bucket", pmod(hash(bucketOn), lit(numBuckets))))
      mergeAggregate(prior, contrib, keys :+ "bucket", aggs)
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$dir/v=$epochId")
    }
  }

  // ------- epoch log: dir/_epochs (claims + per-writer batch map) ----

  private def readUtf8(fs: org.apache.hadoop.fs.FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](256)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      new String(bytes.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def writeUtf8(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      s: String, overwrite: Boolean): Unit = {
    val out = fs.create(p, overwrite) // overwrite=false is the atomic claim
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Read a claim's owner, tolerating the winner's create/write/close
    * not being atomic AS A UNIT: a reader who just lost the create
    * race can observe the claim file exist while still empty and would
    * spuriously refuse a legitimate same-writer retry. An empty read
    * that does NOT already match `expect` is retried briefly (the
    * winner's write is a handful of bytes away); after the window the
    * last read stands — a still-empty claim then fails loud in the
    * caller's owner check, which is an availability error, not data
    * loss. */
  private def readOwner(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      expect: String): String = {
    var owner = readUtf8(fs, p)
    var tries = 0
    while (owner.isEmpty && owner != expect && tries < 50) {
      Thread.sleep(10)
      owner = readUtf8(fs, p)
      tries += 1
    }
    owner
  }

  /** Claim `v=<epochId>` for `writer`, or verify an existing claim.
    * Same writer → legitimate at-least-once replay, proceed. Different
    * writer → the silent-overwrite hazard; fail. The create-no-
    * overwrite is atomic on HDFS/local, so a concurrent double-claim
    * resolves to exactly one owner. */
  private[graft] def claimEpoch(spark: SparkSession, dir: String,
      epochId: Long, writer: String): Unit = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val claim = new Path(dir, s"_epochs/e=$epochId")
    def refuse(owner: String): Nothing = sys.error(
      s"epoch $epochId at $dir is owned by writer '$owner'; refusing the " +
        s"write from '$writer' — all maintenance paths of one layout must " +
        "share a single global epoch sequence (allocate via MergeInto.epochFor)")
    if (fs.exists(claim)) {
      val owner = readOwner(fs, claim, writer)
      if (owner != writer) refuse(owner)
    } else {
      fs.mkdirs(claim.getParent)
      try writeUtf8(fs, claim, writer, overwrite = false)
      catch { case _: java.io.IOException => // lost a concurrent claim race
        val owner = readOwner(fs, claim, writer)
        if (owner != writer) refuse(owner)
      }
    }
  }

  /** Allocate (or recover, on replay) the GLOBAL epoch for `writer`'s
    * local `batchId` — the bridge from N independent streaming
    * checkpoints (each with its own batch-id counter) to the one
    * monotone epoch sequence [[mergeBucketed]] requires. The
    * (writer, batchId) → epoch map is durable in `_epochs/`, so a
    * replayed micro-batch gets ITS epoch back and overwrites its own
    * `v=` directory; a fresh batch claims max+1 (atomically — a
    * concurrent allocator loses the create race and probes upward). */
  def epochFor(spark: SparkSession, dir: String, writer: String,
      batchId: Long): Long = {
    require(writer.nonEmpty, "epochFor needs a non-empty writer id")
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val epochs = new Path(dir, "_epochs")
    val mapping = new Path(epochs, s"w=$writer,b=$batchId")
    if (fs.exists(mapping)) return readUtf8(fs, mapping).toLong
    fs.mkdirs(epochs)
    // floor = every epoch ever claimed or written (covers pre-log
    // layouts whose v= dirs predate the _epochs map)
    val claimed =
      fs.listStatus(epochs).map(_.getPath.getName)
        .collect { case n if n.startsWith("e=") => n.drop(2).toLong } ++
      fs.listStatus(new Path(dir)).filter(_.isDirectory).map(_.getPath.getName)
        .collect { case n if n.startsWith("v=") => n.drop(2).toLong }
    var next = if (claimed.isEmpty) 0L else claimed.max + 1
    var won = false
    while (!won) {
      val p = new Path(epochs, s"e=$next")
      try { writeUtf8(fs, p, writer, overwrite = false); won = true }
      catch {
        // ONLY a lost create race advances the probe. A blanket
        // IOException retry would turn a persistent failure
        // (permissions, quota, filesystem outage) into an infinite
        // busy loop that silently burns epoch numbers.
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => next += 1
        case e: java.io.IOException =>
          if (fs.exists(p)) next += 1 // local FS reports the race as plain IOException
          else throw e
      }
    }
    // mapping write is non-atomic on purpose: a crash between claim and
    // map leaves an orphan e= with no data, and the replay allocates
    // the next number — nothing ever merges from an orphan
    writeUtf8(fs, mapping, next.toString, overwrite = true)
    next
  }

  /** Current merged table: newest COMPLETE (`_SUCCESS`) version of each
    * bucket. None when the layout doesn't exist yet. */
  def readBucketed(spark: SparkSession, dir: String): Option[DataFrame] =
    readVersions(spark, dir, beforeEpoch = None, buckets = None)

  /** Layout state as of before `epochId` — what a (possibly retried)
    * batch must merge onto. `buckets` restricts the read to those
    * bucket directories (file-listing-level pruning). */
  private[graft] def readVersions(
      spark: SparkSession,
      dir: String,
      beforeEpoch: Option[Long],
      buckets: Option[Set[Int]] = None): Option[DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // ONLY "does not exist" means empty state; IO errors propagate and
    // fail the caller (a swallowed transient read error here would
    // silently reset every accumulated counter).
    if (!fs.exists(root)) return None
    val versions = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v=")) Some((n.drop(2).toLong, p)) else None
      }
      .filter { case (v, p) =>
        beforeEpoch.forall(v < _) && fs.exists(new Path(p, "_SUCCESS"))
      }
      .sortBy { case (v, _) => -v }
    // newest version wins per bucket
    val wanted: Option[Set[String]] = buckets.map(_.map(b => s"bucket=$b"))
    val chosen = scala.collection.mutable.LinkedHashMap.empty[String, Path]
    versions.foreach { case (_, vp) =>
      fs.listStatus(vp).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .filter(bp => wanted.forall(_.contains(bp.getName)))
        .foreach { bp => if (!chosen.contains(bp.getName)) chosen(bp.getName) = bp }
    }
    if (chosen.isEmpty) None
    // a layout's schema is fixed by its keys and aggregates
    else Some(ParquetRead(spark, s"layout|$dir", chosen.values.map(_.toString).toSeq: _*))
  }

  /** Retention sweep: each bucket keeps its TWO newest complete
    * versions — the current state AND the state it was merged from.
    * The parent must survive because the newest epoch may still be
    * REPLAYED (its write committed but the caller's checkpoint did
    * not): the replay rebuilds `v=newest` from pre-epoch state, and
    * keeping only the newest would make that replay see an empty
    * prior and silently reset every counter. Anything older than the
    * parent cannot be needed by any replay (the checkpoint had
    * advanced past it before the parent's epoch started) and is
    * deleted, as are `v=` directories left without buckets. Run
    * between pipeline passes, never concurrently with an in-flight
    * batch. Epoch-LOG pruning below carries a per-writer horizon so a
    * crashed writer's replay always recovers its own epoch; the
    * keep-2 DATA retention, however, is per-layout, not per-writer —
    * with multiple interleaved writers, run compact only when every
    * writer's checkpoint has committed through its newest epoch, or a
    * replaying writer may find its pre-epoch bucket state already
    * swept. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val versions = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (n.startsWith("v=")) Some((n.drop(2).toLong, p)) else None
      }
      .sortBy { case (v, _) => -v }
    val keptPerBucket = scala.collection.mutable.Map.empty[String, Int]
    val keptEpochs = scala.collection.mutable.Set.empty[Long]
    versions.foreach { case (v, vp) =>
      val complete = fs.exists(new Path(vp, "_SUCCESS"))
      fs.listStatus(vp).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("bucket="))
        .foreach { bp =>
          val kept = keptPerBucket.getOrElse(bp.getName, 0)
          if (complete && kept < 2) { // newest + parent — keep
            keptPerBucket(bp.getName) = kept + 1
            keptEpochs += v
          } else fs.delete(bp, true)
        }
      if (fs.listStatus(vp).forall(!_.isDirectory)) fs.delete(vp, true)
    }
    // Prune the epoch log with the data's replay horizon AND a
    // PER-WRITER horizon. The data horizon alone is a single-writer
    // view: with two epochFor writers on one layout, writer A can
    // merge epoch E and crash BEFORE its checkpoint commits, writer B
    // then advances the versions past E, and a global-horizon prune
    // would delete A's `e=E` claim and `w=A,b=N` mapping — A's replay
    // would allocate a FRESH epoch and re-merge a batch the state
    // already contains (double-count for sum-style aggregates). So a
    // writer's newest mapped epoch is always kept: mappings and
    // owned claims are pruned only strictly below BOTH the data
    // horizon and that writer's own newest epoch. Claims whose owner
    // never wrote a mapping (explicit-epoch callers, or an orphan
    // from a crash between claim and mapping — whose batch never
    // merged, so a fresh epoch on replay is correct) prune on the
    // data horizon alone, as before.
    val epochs = new Path(root, "_epochs")
    if (keptEpochs.nonEmpty && fs.exists(epochs)) {
      val horizon = keptEpochs.min
      val entries = fs.listStatus(epochs).map(_.getPath)
      val mappings = entries.flatMap { p =>
        val n = p.getName
        if (!n.startsWith("w=")) None
        else {
          val i = n.lastIndexOf(",b=")
          if (i < 0) None
          else scala.util.Try(readUtf8(fs, p).toLong).toOption
            .map(e => (p, n.substring(2, i), e))
        }
      }
      val newestOf: Map[String, Long] =
        mappings.groupBy(_._2).map { case (w, ms) => w -> ms.map(_._3).max }
      mappings.foreach { case (p, w, mapped) =>
        if (mapped < horizon && mapped < newestOf(w)) fs.delete(p, false): Unit
      }
      entries.foreach { p =>
        val n = p.getName
        if (n.startsWith("e=")) {
          val e = n.drop(2).toLong
          if (e < horizon) {
            val owner = readUtf8(fs, p)
            if (newestOf.get(owner).forall(e < _)) fs.delete(p, false): Unit
          }
        }
      }
    }
  }
}
