package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{ClusterTable, Clustering, Preprocess, SimilarityJoin, Summarize}
import newsbench.Tracer

/** The benchmark's traced replay of [[StreamingPipeline.processBatch]]:
  * the same public layer calls in the same order, each inside a span,
  * plus the benchmark's per-batch counts, made outside the spans. It sits
  * in this package only to read state versions through `readVersion`
  * exactly as the pipeline does. The benchmark checks that the traced
  * run's final table equals the untraced run's, so the replay cannot
  * drift from `processBatch`.
  *
  * A span holds the work that runs during its call. `upsertRows` and
  * `merge` only build a plan, so their span is short: the merged table
  * is computed by the summarize pass's collect and again by the table
  * write, exactly as in `processBatch`.
  */
object TracedBatch {

  val Batch = "StreamingPipeline.batch"

  private def versionPath(base: String, v: Long) = s"$base/v$v"

  /** Pool state at version `v`, read as the pipeline reads it. */
  def poolAt(spark: SparkSession, stateDir: String, v: Long): DataFrame =
    StreamingPipeline.readVersion(spark, s"$stateDir/pool", v, StreamingPipeline.emptyPool(spark))

  def process(batch: DataFrame, b: Long, stateDir: String,
              cfg: StreamingPipeline.Config, t: Tracer): Unit = {
    require(cfg.servingStore.isEmpty, "the traced replay has no serving-store span")
    val spark = batch.sparkSession
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    cfg.batchShufflePartitions.foreach(n =>
      spark.conf.set("spark.sql.shuffle.partitions", n.toString))
    spark.conf.set("spark.sql.adaptive.enabled", cfg.batchAdaptive.toString)
    try t.span(b, Batch)(body(batch, b, stateDir, cfg, t))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  private def body(batch: DataFrame, b: Long, stateDir: String,
                   cfg: StreamingPipeline.Config, t: Tracer): Unit = {
    val spark = batch.sparkSession
    val poolBase = s"$stateDir/pool"
    val tableBase = s"$stateDir/table"
    val (pool, table) = t.span(b, "StreamingPipeline.state.read", Batch) {
      (poolAt(spark, stateDir, b - 1),
        StreamingPipeline.readVersion(spark, tableBase, b - 1, ClusterTable.emptyTable(spark)))
    }
    val (prepped, empty) = t.span(b, "Preprocess", Batch) {
      val valid = batch.filter(
        col("id").isNotNull && col("text").isNotNull &&
          col("title").isNotNull && col("date").isNotNull)
      val p = Preprocess(valid, cfg.embedDim).persist(StorageLevel.MEMORY_AND_DISK)
      (p, p.isEmpty)
    }
    t.aux(b, Batch) {
      t.record("Preprocess.rows_in", batch.count().toDouble)
      t.record("Preprocess.rows_out", prepped.count().toDouble)
    }
    try {
      if (empty) t.span(b, "StreamingPipeline.state.write", Batch) {
        pool.write.mode("overwrite").parquet(versionPath(poolBase, b))
        table.write.mode("overwrite").parquet(versionPath(tableBase, b))
        graft.sources.Snapshots.publishPointer(spark, tableBase, b, 0L, versionPath(tableBase, b))
        prune(spark, poolBase, b, cfg.retainVersions)
        prune(spark, tableBase, b, cfg.retainVersions)
      } else {
        val step = t.span(b, "Clustering", Batch) {
          Clustering.step(pool, prepped.select(col("id"), col("concat_embedding")),
            Clustering.Config(eps = cfg.eps, strategy = cfg.strategy,
              singletonTtl = cfg.singletonTtl))
        }
        t.aux(b, Batch) {
          // the step's ε-edges: new × (pool ∪ new) without self pairs
          val nNew = prepped.count()
          val nPool = pool.count()
          val fresh = prepped.select(concat(lit("n:"), col("id")).as("k"),
            col("concat_embedding").as("v"))
          val all = pool.select(concat(lit("p:"), col("cluster_id")).as("k"),
            col("centroid").as("v")).unionByName(fresh)
          val edges = SimilarityJoin.exact(fresh, all, "k", "v", cfg.eps,
            broadcastLeft = true).count()
          t.record("Clustering.pool_rows", step.pool.count().toDouble)
          t.record("Clustering.edges", edges.toDouble)
          t.record("Clustering.edge_yield", edges.toDouble / (nNew * (nPool + nNew) - nNew))
        }
        val observedPool = step.pool.observe("graft_pool_stats",
          sum(when(col("is_cluster"), 1).otherwise(0)).as("n_clusters"),
          sum(when(!col("is_cluster"), 1).otherwise(0)).as("n_singletons"),
          sum(col("n_articles")).as("total_articles"))
        val (ups, merged) = t.span(b, "ClusterTable.upsert", Batch) {
          val u = ClusterTable.upsertRows(table, step.assignments, prepped, cfg.clock)
          (u, ClusterTable.merge(table, u))
        }
        val updated = step.assignments.select(col("cluster_id").as("PK")).distinct()
        t.aux(b, Batch) { t.record("ClusterTable.upsert.table_rows", merged.count().toDouble) }
        val next =
          if (!cfg.inlineSummarize) merged
          else {
            t.aux(b, Batch) {
              val nUpdated = updated.count()
              val fired = merged.filter(col("row_type") === "metadata")
                .join(broadcast(updated), Seq("PK"), "left_semi")
                .filter(Summarize.shouldSummarize(col("number_of_articles"),
                  col("summary_count"), cfg.threshold))
                .count()
              t.record("ClusterTable.summarize.fired", fired.toDouble)
              t.record("ClusterTable.summarize.fire_ratio", fired.toDouble / nUpdated)
            }
            t.span(b, "ClusterTable.summarize", Batch) {
              ClusterTable.summarizePass(merged, updated, cfg.threshold)
            }
          }
        t.span(b, "StreamingPipeline.state.write", Batch) {
          observedPool.write.mode("overwrite").parquet(versionPath(poolBase, b))
          next.write.mode("overwrite").parquet(versionPath(tableBase, b))
          graft.sources.Snapshots.publishPointer(spark, tableBase, b, 0L,
            versionPath(tableBase, b))
          if (cfg.emitCdc)
            ups.write.mode("overwrite").parquet(versionPath(s"$stateDir/cdc", b))
          prune(spark, poolBase, b, cfg.retainVersions)
          prune(spark, tableBase, b, cfg.retainVersions)
        }
      }
      val written = Seq(poolBase, tableBase, s"$stateDir/cdc")
        .map(base => newsbench.Files.stats(versionPath(base, b)))
      t.record("StreamingPipeline.state.files_written", written.map(_._1).sum.toDouble)
      t.record("StreamingPipeline.state.bytes_written", written.map(_._2).sum.toDouble)
    } finally prepped.unpersist()
  }

  /** `StreamingPipeline`'s retention: versions older than
    * (latest - retain) and their snapshot pointers are deleted. */
  private def prune(spark: SparkSession, base: String, latest: Long, retain: Int): Unit = {
    val p = new Path(base)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    fs.listStatus(p).foreach { st =>
      StreamingPipeline.parseVersionDir(st.getPath.getName).foreach { case (v, _) =>
        if (v <= latest - retain) fs.delete(st.getPath, true)
      }
    }
    graft.sources.Snapshots.prunePointers(spark, base, latest - retain)
  }
}
