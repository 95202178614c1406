package graft

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

  /** Reads one table, inferring its schema only the first time a file
    * layout is seen. Spark's schema inference launches a Spark job to
    * read a footer on every `spark.read.parquet`, even for a layout it
    * has already read; a user-specified schema skips that job and
    * plans the identical scan. Key: the qualified path, the layout
    * [[fingerprint]] (a rewrite is an automatic miss — the same
    * layout-level contract as the memos) and the session's explicitly
    * set parquet confs, which change the inferred types ([[events]]'
    * `nanosAsLong`). A read that fails — missing path, empty directory
    * — raises Spark's own error and caches nothing.
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = schemaKey(spark, path)
    key.flatMap(cached) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        key.foreach(k => schemas.synchronized(schemas.put(k, df.schema)))
        df
    }
  }

  /** Inferred schemas by [[schemaKey]], least recently used evicted
    * past [[MaxSchemas]]. Holds no rows and no frames — like Spark's
    * catalog relations, it outlives `FrameMemo.clearAllMemos`.
    */
  private val MaxSchemas = 256
  private val schemas =
    new java.util.LinkedHashMap[String, StructType](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, StructType]): Boolean =
        size > MaxSchemas
    }

  private def cached(key: String): Option[StructType] =
    schemas.synchronized(Option(schemas.get(key)))

  /** The schema [[load]] would reuse for this table now, if any. */
  private[graft] def cachedSchema(
      s: SparkSession, d: String, name: String): Option[StructType] =
    schemaKey(s, s"$d/$name.parquet").flatMap(cached)

  /** None when the path cannot be listed: the read then fails in Spark. */
  private def schemaKey(s: SparkSession, path: String): Option[String] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val listing =
      try Some(fs.listStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    listing.map { files =>
      val confs = s.conf.getAll.toSeq
        .filter { case (k, _) =>
          k.startsWith("spark.sql.parquet.") ||
            k.startsWith("spark.sql.legacy.parquet.") }
        .sorted.mkString(",")
      s"${fs.makeQualified(p)}|${layout(files)}|$confs"
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
    layout(path.getFileSystem(s.sparkContext.hadoopConfiguration).listStatus(path))
  }

  private def layout(listing: Array[FileStatus]): String = {
    val files = listing.filter(_.isFile)
    s"${files.length}:${files.map(_.getLen).sum}:" +
      s"${if (files.isEmpty) 0L else files.map(_.getModificationTime).max}"
  }
}
