package graft

import java.io.FileNotFoundException
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Typed loaders for the test-data star schema. All operators go
  * through these so filters/projections stay declarative and reach
  * the parquet scan (pushdown + pruning).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Qualified table path -> (cache key, schema inferred under it). */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** Read one table, inferring its parquet schema only once.
    *
    * `spark.read.parquet` starts a Spark job on every call just to
    * re-read a footer whose schema an earlier query already read. The
    * first load of a table infers the schema as before and caches the
    * `StructType`; every later load reads with
    * `spark.read.schema(cached)`, which starts no job.
    *
    * Cache contract:
    *  - key: the qualified path, plus the [[fingerprint]] layout stamp
    *    (file count, bytes, max mtime; one driver-side listing), plus
    *    every set `spark.sql.parquet.*` and `spark.sql.legacy.parquet.*`
    *    conf, because those change what inference returns ([[events]]
    *    sets `nanosAsLong`). The key holds everything inference reads,
    *    so sessions in one JVM share the cache safely;
    *  - one entry per path: a key mismatch infers again and replaces
    *    that path's entry, so the cache is bounded by the table count;
    *  - not a [[FrameMemo]]: it holds no blocks, so `clearAllMemos`
    *    leaves it alone, as it leaves Spark's codegen cache;
    *  - a missing path falls through to `spark.read.parquet`, so the
    *    caller sees Spark's own `PATH_NOT_FOUND` `AnalysisException`.
    *
    * Like the memo keys, the stamp is layout-level: an in-place
    * rewrite with the same file count, bytes and mtime keeps the old
    * schema.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    val path = new Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listing =
      try Some(fs.listStatus(path))
      catch { case _: FileNotFoundException => None }
    listing match {
      case None => spark.read.parquet(p)
      case Some(files) =>
        val confs = spark.conf.getAll.toSeq.filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.")
        }.sorted
        val key = stamp(files) + "|" + confs.mkString(",")
        val qualified = fs.makeQualified(path).toString
        Option(schemas.get(qualified)) match {
          case Some((k, schema)) if k == key => spark.read.schema(schema).parquet(p)
          case _ =>
            val df = spark.read.parquet(p)
            schemas.put(qualified, (key, df.schema))
            df
        }
    }
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts has shipped in two testdata generations: nanosecond
    * INT64 (Spark 4 rejects ns timestamps — surfaced as a long via the
    * legacy conf, then floor-divided to microseconds with integer
    * `div`, not `/`, because epoch-nanos exceed double's exact-integer
    * range) and, since the round-8 refresh, timestamp[us] with no UTC
    * adjustment (Spark reads TIMESTAMP_NTZ). [[normalizeEventTs]]
    * collapses both to the same session-zone TimestampType values:
    * every entry point pins the session zone to UTC, so the NTZ cast
    * is value-preserving, and both generations match the oracles'
    * `CAST(ts AS TIMESTAMP)` (a microsecond truncation on ns data, a
    * no-op on us data) on the DuckDB side.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(load(s, d, "events"))
  }

  /** Generation-adaptive ts normalization (see [[events]]): long
    * nanos → floor-divide to micros; TIMESTAMP_NTZ → session-zone
    * (UTC) timestamp; already-zoned timestamps pass through.
    */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Cheap layout-level fingerprint of one table's files (count +
    * total bytes + max mtime; a single driver-side FS listing) — the
    * cache key ingredient for session-scoped memos (d07/d08 cluster
    * labels, s05/s06 k-NN graph): a rewrite of the data invalidates
    * the memo instead of serving results for rows that no longer
    * exist. Layout-level, not content-level — a same-size-same-mtime
    * in-place rewrite would still hit; that is the documented
    * contract.
    */
  def fingerprint(s: SparkSession, d: String, name: String): String = {
    val path = new Path(s"$d/$name.parquet")
    stamp(path.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(path))
  }

  /** count:bytes:max-mtime over the regular files of one listing. */
  private def stamp(listing: Array[FileStatus]): String = {
    val files = listing.filter(_.isFile)
    s"${files.length}:${files.map(_.getLen).sum}:" +
      s"${if (files.isEmpty) 0L else files.map(_.getModificationTime).max}"
  }
}
