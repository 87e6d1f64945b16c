package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maintenance DML (SURVEY.md §2.8) as pure DataFrame→DataFrame
  * rewrites — the batch-overwrite form of the reference's in-place
  * Mongo repairs (api_service/main.py:207-261, utils/clean_db.py). On a
  * Delta/Iceberg table these become MERGE/DELETE; the dataframes here
  * are the storage-agnostic core.
  */
object Maintenance {

  /** A3 dup detection + repair: keep exactly one row per key,
    * first-seen by `order` (api_service/main.py:225-234; first-seen
    * sweep utils/clean_db.py:7-26). Deterministic as long as (key ++
    * order) is a total order. */
  def dedupKeepFirst(df: DataFrame, key: Seq[Column], order: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** O2 per-key retention trim: newest `k` rows per key by `ts` with a
    * deterministic tiebreak (api_service/main.py:236-249; tiebreak is
    * our added spec, SURVEY.md §7.4). */
  def trimPerKey(df: DataFrame, key: Column, ts: Column, tiebreak: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts.desc, tiebreak)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }

  /** J3 orphan purge: keep only rows whose key exists in the dim
    * (api_service/main.py:220-223, the $nin scan; survivors = the
    * semi-join complement of the delete set). */
  def orphanPurge(df: DataFrame, dim: DataFrame, key: String): DataFrame =
    df.join(dim.select(col(key)).distinct(), Seq(key), "left_semi")

  /** The rows orphanPurge would delete (the reference's $nin scan
    * itself) — anti-join form. */
  def orphans(df: DataFrame, dim: DataFrame, key: String): DataFrame =
    df.join(dim.select(col(key)).distinct(), Seq(key), "left_anti")

  /** M1 cascade delete by key, name resolved case-insensitively against
    * the dim first (api_service/main.py:175-204). Returns the surviving
    * rows of each zone table. */
  def cascadeDelete(zones: Seq[DataFrame], dim: DataFrame, nameCol: String, name: String,
      key: String): (Seq[DataFrame], DataFrame) = {
    val victims = dim.filter(lower(trim(col(nameCol))) === name.toLowerCase.trim)
      .select(col(key)).distinct()
    val survivors = zones.map(_.join(victims, Seq(key), "left_anti"))
    val dimLeft = dim.join(victims, Seq(key), "left_anti")
    (survivors, dimLeft)
  }

  /** M2 combined repair job: dedup → orphan purge → per-key trim, one
    * chained program (api_service/main.py:207-261). */
  def repair(raw: DataFrame, dim: DataFrame, k: Int = 200): DataFrame = {
    val deduped = dedupKeepFirst(raw,
      Seq(col("matchId")), Seq(col("puuid"), col("timestamp")))
    val noOrphans = orphanPurge(deduped, dim, "puuid")
    trimPerKey(noOrphans, col("puuid"), col("timestamp"), col("matchId"), k)
  }

  /** M3 full wipe — trivially `df.limit(0)` (api_service/main.py:264-275);
    * present for surface completeness. */
  def nuke(df: DataFrame): DataFrame = df.limit(0)

  /** Small-file compaction for an epoch-partitioned parquet zone
    * (silver's `batch=<epochId>/` layout): every micro-batch write
    * leaves one file per shuffle partition, so a long-running pipeline
    * accumulates epochs × partitions tiny files — the classic
    * small-file problem that murders scan throughput (footer reads +
    * task-per-file scheduling) long before data size does.
    *
    * Rewrites the zone with rows of each epoch coalesced into that
    * epoch's tasks (`repartition(partitionCol)` then
    * `partitionBy(partitionCol)`), so each `batch=` directory ends up
    * with ~1 right-sized file while the LAYOUT — and with it the
    * retry contract "a replayed epoch overwrites its own directory" —
    * is preserved. The swap is rename-based (write `.compact.tmp`,
    * move the live dir aside, move tmp in, drop the old): a crash at
    * any point leaves either the old or the new complete zone, never
    * a mix. Like [[graft.operators.MergeInto.compact]], run it
    * between pipeline passes, never concurrently with a writer. */
  def compactSmallFiles(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      partitionCol: String = "batch"): Unit = {
    import org.apache.hadoop.fs.Path
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val tmp = new Path(root.getParent, root.getName + ".compact.tmp")
    val old = new Path(root.getParent, root.getName + ".compact.old")
    // Crash recovery FIRST: if a prior run died between its two
    // renames, the live dir is missing and `.compact.old` holds the
    // complete pre-swap zone — restore it before anything else (in
    // particular before the `old` cleanup below, which would otherwise
    // permanently delete the only copy).
    if (!fs.exists(root)) {
      if (!fs.exists(old)) return // nothing to compact, nothing to recover
      if (!fs.rename(old, root))
        throw new java.io.IOException(s"compactSmallFiles: cannot recover $old to $root")
    }
    fs.delete(tmp, true)
    fs.delete(old, true)
    graft.operators.ParquetRead.table(spark, dir)
      .repartition(col(partitionCol))
      .write.mode("overwrite").partitionBy(partitionCol)
      .parquet(tmp.toString)
    if (!fs.rename(root, old))
      throw new java.io.IOException(s"compactSmallFiles: cannot move $root aside")
    if (!fs.rename(tmp, root)) {
      fs.rename(old, root) // restore the live zone before failing
      throw new java.io.IOException(s"compactSmallFiles: cannot activate $tmp")
    }
    fs.delete(old, true)
  }
}
