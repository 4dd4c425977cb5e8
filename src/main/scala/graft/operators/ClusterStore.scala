package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Partition-pruned persistence for the clusters table — the serving
  * store the streaming pipeline (or its change-feed consumer) writes
  * after each micro-batch (SURVEY S9).
  *
  * Layout: parquet partitioned by `bucket = pmod(xxhash64(PK), nBuckets)`.
  * The one write path is [[rebuildBucketsFor]]: a micro-batch touches a
  * handful of clusters, so it
  *   1. computes the touched buckets from the touched rows (small);
  *   2. takes ONLY those buckets' rows from the authoritative table;
  *   3. rewrites ONLY those partitions (dynamic partition overwrite).
  * Cost per batch is O(touched buckets), independent of table size, and
  * because every rewritten bucket comes whole from the authoritative
  * table, never from the store, replaying a batch after a crash
  * mid-write restores complete buckets.
  *
  * Point lookups (S11/S12 `PK = x`, the reference's query by partition
  * key) are ONE Spark job, the caller's own action: [[cluster]] computes
  * the key's bucket on the driver ([[bucketIdOf]]), reads only that
  * `bucket=<b>` directory (with `basePath`, so `bucket` stays a
  * partition column and the scan carries a partition filter) and takes
  * the schema from one data file's footer on the driver. Reading the
  * whole store instead would schedule two jobs before the query's own:
  * a parallel listing of the bucket directories (more than Spark's
  * 32-path parallel-discovery threshold at the default 64 buckets) and
  * a schema-inference job.
  */
final class ClusterStore(spark: SparkSession, path: String, nBuckets: Int = 64) {

  import spark.implicits._

  def bucketOf(pk: Column): Column =
    pmod(xxhash64(pk), lit(nBuckets.toLong))

  /** The bucket [[bucketOf]] assigns `pk`, computed on the driver with
    * the same function Spark evaluates: xxhash64 (seed 42) of the key's
    * UTF-8 bytes, pmod `nBuckets`. */
  def bucketIdOf(pk: String): Long =
    java.lang.Math.floorMod(
      XxHash64Function.hash(UTF8String.fromString(pk), StringType, 42L), nBuckets.toLong)

  private def conf = spark.sparkContext.hadoopConfiguration

  private def fs = new Path(path).getFileSystem(conf)

  def exists: Boolean = fs.exists(new Path(path))

  private def bucketDir(b: Long) = new Path(path, s"bucket=$b")

  private def bucketDirs(): Seq[Path] =
    fs.listStatus(new Path(path)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("bucket="))

  /** The data columns (`bucket` excluded) recorded in the footer of the
    * first data file in `dirs`: Spark stamps every parquet file it
    * writes with its row schema, so this is one footer read on the
    * driver instead of an inference job. None when no file carries it. */
  private def footerSchema(dirs: Seq[Path]): Option[StructType] =
    dirs.iterator.flatMap { d =>
      fs.listStatus(d).iterator.map(_.getPath).filter(_.getName.endsWith(".parquet"))
    }.nextOption().flatMap { file =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try Option(reader.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally reader.close()
    }.map(json => DataType.fromJson(json).asInstanceOf[StructType])

  /** A reader of the store with `bucket` as a partition column and the
    * schema from a footer under `dirs` (bucket directories); ordinary
    * inference is the fallback for files Spark did not write. */
  private def reader(dirs: Seq[Path]): DataFrameReader = {
    val r = spark.read.option("basePath", path)
    footerSchema(dirs).fold(r)(r.schema)
  }

  private def scan(dirs: Seq[Path]): DataFrame =
    reader(dirs).parquet(dirs.map(_.toString): _*)

  /** Full table (bucket column dropped). Listing every bucket directory
    * is still a Spark job past Spark's 32-path parallel-discovery
    * threshold, a session setting this class leaves alone. */
  def read(): DataFrame =
    if (exists) reader(bucketDirs()).parquet(path).drop("bucket")
    else ClusterTable.emptyTable(spark)

  /** Rows of one cluster: one bucket directory, one Spark job (see the
    * class doc). A key whose bucket has no directory yet gives an empty
    * frame with the columns a hit returns. */
  def cluster(pk: String): DataFrame = {
    if (!exists) return ClusterTable.emptyTable(spark)
    val b = bucketIdOf(pk)
    val dir = bucketDir(b)
    if (fs.exists(dir))
      scan(Seq(dir)).filter(col("bucket") === b && col("PK") === pk).drop("bucket")
    else bucketDirs().headOption.fold(ClusterTable.emptyTable(spark))(d =>
      scan(Seq(d)).filter(lit(false)).drop("bucket"))
  }

  /** Rewrite, from an authoritative table, every bucket that `touched`
    * rows land in. `truth` must contain ALL rows of the table (or at
    * least of the touched buckets); only the touched buckets are read
    * from it and rewritten — cost stays O(touched buckets), independent
    * of table size. It never reads the store itself, so a replay after
    * a crash mid-write restores complete bucket contents (including
    * co-bucketed clusters a truncated write lost).
    */
  def rebuildBucketsFor(truth: DataFrame, touched: DataFrame): Unit = {
    val touchedBuckets = touched.select(bucketOf(col("PK")).as("bucket"))
      .distinct().as[Long].collect()
    if (touchedBuckets.isEmpty) return
    val rows = truth.withColumn("bucket", bucketOf(col("PK")))
      .filter(col("bucket").isin(touchedBuckets: _*))
    if (!exists) {
      rows.write.partitionBy("bucket").mode("errorifexists").parquet(path)
      return
    }
    overwriteBuckets(rows)
  }

  /** Replace the buckets present in `rows` and leave every other bucket
    * as it is: a dynamic partition overwrite, asked for on this write
    * alone so the caller's session conf is never changed. */
  private def overwriteBuckets(rows: DataFrame): Unit =
    rows.write.partitionBy("bucket").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** Data files per bucket partition — test/observability hook for
    * asserting untouched partitions are left alone.
    */
  def filesByBucket(): Map[Long, Set[String]] = {
    if (!exists) return Map.empty
    fs.listStatus(new Path(path)).toSeq
      .filter(_.getPath.getName.startsWith("bucket="))
      .map { dir =>
        val b = dir.getPath.getName.stripPrefix("bucket=").toLong
        b -> fs.listStatus(dir.getPath).map(_.getPath.getName)
          .filter(_.endsWith(".parquet")).toSet
      }.toMap
  }
}
