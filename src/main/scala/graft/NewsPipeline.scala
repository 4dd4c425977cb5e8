package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ClusterTable, Clustering, Preprocess}
import graft.schemas.Schemas

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

  /** Run the full pipeline over `Batches` micro-batches; returns the
    * final clusters table. The driver-side loop IS the micro-batch
    * boundary (same role as `foreachBatch` in the streaming wrapper).
    */
  def run(spark: SparkSession, sfDir: String): DataFrame = {
    val arts = syntheticArticles(Tables.documents(spark, sfDir))
    // size the shuffle to the micro-batch, not the session default: a
    // batch is bounded (~500-1000 rows), so dozens of 32-way exchanges
    // per step are pure scheduling overhead. At 100 TB the same knob
    // scales UP with batch volume.
    //
    // AQE is OFF inside this loop (round-4 measurement: 110 jobs /
    // ~16 s job time vs 216 / ~25 s with AQE, reproduced). Round 3
    // measured the opposite — back then the stats-less checkpointed
    // state made the static planner pick sort-merge joins. Every join
    // in the loop now carries an explicit broadcast hint on its
    // batch-bounded side, so static planning is already optimal and
    // AQE's per-exchange stage materialization is pure scheduling
    // overhead. The streaming wrapper makes the same choice by default
    // (`StreamingPipeline.Config.batchAdaptive`). The loop also runs
    // interpreted (see withBatchExecution), measured on this loop:
    // A9Bench (local[32] on a 4-core host), 6 pairs with alternating
    // order, median warm run 20.1 → 11.6 s at sf0.01 and 26.1 → 20.6 s
    // at sf0.1 against the codegen loop (6/6 pairs each).
    SparkHygiene.withBatchExecution(spark, shufflePartitions = Some(4),
        adaptive = Some(false)) {
      runBatches(spark, arts)
    }
  }

  private def runBatches(spark: SparkSession, arts: DataFrame): DataFrame = {
    var table = ClusterTable.emptyTable(spark)
    var pool = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.pool)
    for (b <- 0 until Batches) {
      val raw = arts.filter(col("batch") === b).drop("grp", "batch")
      val prepped = Preprocess(raw, EmbedDim)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val step = Clustering.step(
        pool, prepped.select(col("id"), col("concat_embedding")))
      // step.pool is eagerly checkpointed — the previous pool state is
      // superseded NOW, not whenever the ContextCleaner gets to it
      SparkHygiene.freeCheckpoint(pool)
      pool = step.pool
      val ups = ClusterTable.upsertRows(table, step.assignments, prepped, Clock)
      // eager checkpoint, deliberately NOT a lazy persist: the
      // summarize pass references `merged` from several INDEPENDENT
      // broadcast futures that launch concurrently at job start — with
      // a lazy cache they race and each computes the merge anti-join
      // before the cache settles (measured +35% on a9 warm); the
      // checkpoint materializes it exactly once
      val merged = ClusterTable.merge(table, ups).localCheckpoint(eager = true)
      SparkHygiene.freeCheckpoint(table)
      val updated = step.assignments.select(col("cluster_id").as("PK")).distinct()
      table = ClusterTable.summarizePass(merged, updated, Threshold)
        .localCheckpoint(eager = true)
      SparkHygiene.freeCheckpoint(merged)
      prepped.unpersist()
    }
    table
  }

  /** A9 flagship query over the pipeline's final table. */
  def uiClusters(spark: SparkSession, sfDir: String): DataFrame =
    ClusterTable.uiClusterList(run(spark, sfDir))
}
