package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** The one way the engine reads parquet: with a schema the JVM already
  * knows.
  *
  * A bare `spark.read.parquet(path)` infers the schema eagerly, and
  * inference is a Spark job that opens a footer (~100 ms warm at sf0.1,
  * on every call, even for a table read a second before). Every read
  * here names a KEY that stands for its schema; the first read under a
  * key infers and records the schema, and later reads hand it to the
  * reader, which then starts no job until the DataFrame executes.
  *
  * A key must change whenever the schema behind its paths can:
  *  - [[table]]: a file or directory that may be rewritten in place
  *    (the input tables) — keyed on its path, length and modification
  *    time and on the session confs that change parquet inference;
  *  - [[sourceSchema]]: a streaming file source's directory —
  *    Structured Streaming already requires one schema for a source's
  *    life;
  *  - `apply` with a caller-named key: a directory whose schema its
  *    writer fixes (a `MergeInto` layout's keys and aggregates, a
  *    `Staged` artifact, which records the schema it wrote).
  */
object ParquetRead {
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** Read `paths` with the schema recorded under `key`, inferring and
    * recording it (one footer-reading job) on the key's first read. */
  def apply(s: SparkSession, key: String, paths: String*): DataFrame =
    schemas.get(key) match {
      case null =>
        val df = s.read.parquet(paths: _*)
        schemas.put(key, df.schema)
        df
      case known => s.read.schema(known).parquet(paths: _*)
    }

  // Session confs that change what parquet inference returns for the
  // same file.
  private val inferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled")

  /** Read a table file or directory that may be rewritten in place:
    * one `getFileStatus` keys the schema on the path's length and
    * modification time, so a rewrite (or a changed inference conf)
    * infers again. A missing path infers, and so fails with Spark's
    * own error. */
  def table(s: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val status =
      try Some(p.getFileSystem(s.sessionState.newHadoopConf()).getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    val key = status.map { st =>
      (Seq("table", path, st.getLen, st.getModificationTime) ++
        inferenceConfs.map(s.conf.getOption(_).getOrElse(""))).mkString("|")
    }
    key.fold(s.read.parquet(path))(apply(s, _, path))
  }

  /** Schema of a streaming file source's directory, inferred once per
    * directory. */
  def sourceSchema(s: SparkSession, dir: String): StructType =
    apply(s, s"source|$dir", dir).schema

  /** Record the schema a writer stored under `key`, as a read returns
    * it: parquet reads every field as nullable. */
  private[operators] def record(key: String, written: StructType): Unit =
    schemas.put(key, nullable(written).asInstanceOf[StructType])

  private[operators] def recorded(key: String): StructType = schemas.get(key)

  private def nullable(t: DataType): DataType = t match {
    case st: StructType =>
      StructType(st.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case other => other
  }
}
