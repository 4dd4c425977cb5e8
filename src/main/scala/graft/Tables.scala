package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; these helpers
  * centralize the parquet paths so filter/column pruning reaches the scan
  * (plain `spark.read.parquet` — Catalyst handles pushdown).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema cache, keyed by resolved file path. Every `load` without it
    * re-runs parquet schema inference — a footer read per call — so a
    * catalog sweep re-infers the same immutable testdata schemas
    * hundreds of times (measured: 0.08-0.43 s of the per-query wall is
    * construction, dominated by inference; multi-table queries pay it
    * per table). A real deployment reads schemas from a catalog/
    * metastore, not from data-file footers, so caching the inferred
    * schema is the single-node stand-in for that metadata service
    * (guide §6: manifest metadata over per-query listing/inference).
    * Data reads are untouched — only the schema comes from the cache.
    * One entry per path, holding the file's (length, mtime) beside the
    * schema: a path-only lookup would serve a STALE schema if a file
    * were regenerated in place mid-JVM (tests and tools do exactly
    * that), silently null-filling changed columns, so an entry whose
    * fingerprint no longer matches is re-inferred and replaced. The stat
    * call is microseconds against the 0.08-0.43 s inference it replaces.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, ((Long, Long), StructType)]()

  private[graft] def cachedSchemas: Map[String, StructType] = {
    import scala.jdk.CollectionConverters._
    schemaCache.asScala.map { case (p, (_, s)) => p -> s }.toMap
  }

  private def schemaOf(spark: SparkSession, path: String): StructType = {
    val f = new java.io.File(path)
    val stamp = (f.length(), f.lastModified())
    schemaCache.compute(path, (_, cur) =>
      if (cur != null && cur._1 == stamp) cur
      else (stamp, spark.read.parquet(path).schema))._2
  }

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "part")
  def nation(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "region")
  /** events.ts has shipped as both parquet TIMESTAMP(MICROS) (reads as a
    * Spark timestamp directly) and TIMESTAMP(NANOS) (rejected by the
    * vectorized reader; surfaces as a raw nanos LONG under
    * `spark.sql.legacy.parquet.nanosAsLong=true`, set once at session
    * setup by [[GraftExtensions.register]]). Branch on the type the scan
    * actually produced: a long is nanos to truncate to microseconds
    * (exactly DuckDB's ns→µs conversion, so oracles agree); a timestamp
    * passes through untouched. The conf itself is deliberately NOT set
    * here: a loader mutating session conf mid-flight changes how every
    * other TIMESTAMP(NANOS) parquet reads for the rest of the session
    * and races concurrent queries (ADVICE r2).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEventTs(load(spark, sfDir, "events"))

  /** The events table as a file STREAM (schema pinned from the batch
    * read; a direct parquet file path is a valid file-source glob).
    * Same ts normalization as the batch form, so stream and batch
    * operators see the identical event-time column.
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    normalizeEventTs(
      // schema from the same cache the batch loaders use — this was the
      // one remaining per-drain footer re-inference (optimization r15;
      // 26 streaming drains + the wrapper each paid it per construction)
      spark.readStream.schema(schemaOf(spark, s"$sfDir/events.parquet"))
        // deliberately a GLOB, not the plain file path: FileStreamSource
        // force-sets basePath to the source path itself for non-glob
        // paths, and a basePath that is a FILE fails partition inference
        // in getBatch; with a glob it leaves basePath to be inferred
        // from the matched files' parent directory
        .parquet(s"$sfDir/events.parque[t]"))
  }

  private def normalizeEventTs(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // pandas-written parquet is tz-naive; downstream operators use
        // unix_micros/window() which require TIMESTAMP. Session tz is UTC
        // (set at session setup), so the cast preserves the instant and
        // matches DuckDB's naive-timestamp reading bit-for-bit.
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts").cast(
          org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  def documents(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = load(spark, sfDir, "embeddings")

  /** Register all tables as temp views so `spark.sql` text matches the
    * DuckDB oracle SQL (same table names).
    */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))
}
