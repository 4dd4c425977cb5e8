package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.ClusterTable
import graft.streaming.StreamingPipeline

/** The flagship end-to-end pipeline (SURVEY §3 E1-E3, §7.1 v0 slice):
  * raw articles → preprocess (P1-P6) → deterministic embed (P7) →
  * incremental ε-clustering (ST2) → cluster-table upsert with A4
  * arithmetic (S9/J2-J4) → trigger + summarize + writeback (ST5/A8/S16)
  * → A9 UI cluster query.
  *
  * Articles are derived deterministically from the driver's `documents`
  * table with planted topic groups, so the full pipeline — including
  * cluster membership, counter quirks, trigger firing and summary
  * content — is replayable by the DuckDB oracle in plain SQL:
  *   group  = doc_id % 8   (each group's text shares a dominant token)
  *   batch  = (doc_id div 8) % 5  (groups spread across micro-batches,
  *            exercising the new×existing-pool merge path)
  */
object NewsPipeline {

  val Groups = 8
  val Batches = 5
  /** Summarization trigger threshold — T=2 so clusters fire at every sf. */
  val Threshold = 2
  /** Embedding width for the planted corpus: wide enough that the 8
    * group tokens don't collide in the signed-hash projection.
    */
  val EmbedDim = 256
  val Clock = "2024-06-01T00:00:00"

  /** Deterministic article corpus: planted per-group token dominates the
    * embedding; a 20-char slice of the real document text adds per-doc
    * noise well inside the ε=0.10 ball.
    */
  def syntheticArticles(docs: DataFrame): DataFrame = {
    val g = (col("doc_id") % Groups).cast("string")
    docs.select(
      lpad(col("doc_id").cast("string"), 6, "0").as("id"),
      (col("doc_id") % Groups).as("grp"),
      expr(s"(doc_id div $Groups) % $Batches").as("batch"),
      concat(lit("Group "), g, lit(" story "),
        lpad(col("doc_id").cast("string"), 6, "0")).as("title"),
      concat(repeat(concat(lit("plant"), g, lit(" ")), 30),
        substring(col("text"), 1, 20)).as("text"),
      expr("date_format(timestampadd(MINUTE, doc_id, " +
        "timestamp'2024-01-01 00:00:00'), 'yyyy-MM-dd HH:mm:ss')").as("date"),
      array(concat(lit("org"), (col("doc_id") % 4).cast("string"))).as("organizations"),
      array(concat(lit("loc"), g),
        concat(lit("locx"), (col("doc_id") % 3).cast("string"))).as("locations"))
  }

  /** The a9 pipeline's micro-batch settings. The shuffle is sized to
    * the bounded batch, not the session, and AQE is off: every join in
    * the batch has a batch-bounded side, broadcast or on the driver
    * (round 4: 110 jobs / ~16 s job time vs 216 / ~25 s with AQE).
    * Interpreted vs codegen, A9Bench (local[32] on a 4-core host), 6
    * alternating pairs, median warm run: 20.1 → 11.6 s at sf0.01,
    * 26.1 → 20.6 s at sf0.1. */
  val BatchConfig: StreamingPipeline.Config = StreamingPipeline.Config(
    threshold = Threshold, embedDim = EmbedDim, clock = Clock,
    batchShufflePartitions = Some(4), batchAdaptive = false)

  /** Run the full pipeline over `Batches` micro-batches, each one
    * [[StreamingPipeline.step]] with state kept in memory as eager
    * checkpoints; returns the final clusters table. The loop IS the
    * micro-batch boundary (same role as `foreachBatch` in the streaming
    * wrapper). The returned table is a checkpoint the caller
    * frees (`SparkHygiene.freeCheckpoint`); nothing else stays pinned,
    * also when a batch throws.
    */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val arts = syntheticArticles(Tables.documents(spark, sfDir))
    StreamingPipeline.withBatchExecution(spark, BatchConfig) {
      var pool = StreamingPipeline.emptyPool(spark)
      var table = ClusterTable.emptyTable(spark)
      try {
        for (b <- 0 until Batches) {
          val step = StreamingPipeline.step(pool, table,
            arts.filter(col("batch") === b).drop("grp", "batch"), BatchConfig)
          if (step.batchSize > 0) {
            SparkHygiene.freeCheckpoint(pool)
            pool = step.pool
            val next = step.table.localCheckpoint(eager = true)
            SparkHygiene.freeCheckpoint(table)
            table = next
          }
        }
        table
      } catch { case e: Throwable => SparkHygiene.freeCheckpoint(table); throw e }
      finally SparkHygiene.freeCheckpoint(pool)
    }
  }

  /** A9 flagship query over the pipeline's final table. The list is at
    * most a few rows, so it is collected and the table freed here; the
    * rows come back as a local relation in [[ClusterTable.uiClusterList]]'s
    * schema and order, and nothing stays pinned. */
  def uiClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val table = run(spark, sfDir)
    val list = ClusterTable.uiClusterList(table)
    val rows = try list.collect() finally SparkHygiene.freeCheckpoint(table)
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), list.schema)
  }
}
