package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{ClusterTable, Clustering, Preprocess}
import graft.schemas.Schemas

/** Structured Streaming wrapper around the clustering engine
  * (SURVEY ST1/ST3; reference micro-batch loop
  * `process_records.py:556-608`, checkpoint `:497-553`).
  *
  * Design: `foreachBatch` + a VERSIONED state store. Spark's native
  * checkpoint (offset log under `checkpointLocation`) guarantees each
  * micro-batch is replayed with the same data after a crash; our state
  * writes are keyed by batchId (`pool/v<N>`, `table/v<N>` derived
  * deterministically from `v<N-1>`), so a replayed batch overwrites its
  * own partial output — idempotent, end-to-end exactly-once. This is
  * the Spark-native equivalent of the reference's pickle-to-S3 +
  * SQS-redelivery at-least-once loop, with strictly stronger semantics.
  *
  * Keyed state APIs (`flatMapGroupsWithState`) cannot express this
  * operator because DBSCAN merges arbitrary subsets of prior state
  * across keys each batch (SURVEY §7.3); the state-table-in-foreachBatch
  * formulation is the idiomatic escape hatch.
  */
object StreamingPipeline {

  final case class Config(
      eps: Double = Clustering.DefaultEps,
      /** physical strategy for the ε-edge join — ExactJoin (broadcast
        * batch × streamed pool) for micro-batch-sized inputs, BandJoin /
        * LshJoin when the pool is large enough that even the streamed
        * cross pass matters (the 100 TB knob, same enum as batch use) */
      strategy: Clustering.JoinStrategy = Clustering.ExactJoin,
      /** opt-in singleton TTL in pool sequence numbers (see
        * [[Clustering.Config.singletonTtl]]) — the 100 TB state-growth
        * control; None = reference parity (state grows unboundedly) */
      singletonTtl: Option[Long] = None,
      threshold: Int = 5,
      embedDim: Int = graft.functions.HashEmbed.DefaultDim,
      clock: String = "1970-01-01T00:00:00",
      /** state versions older than (latest - retain) are deleted —
        * the reference keeps one pickle; we keep a few for debugging */
      retainVersions: Int = 3,
      /** when true, each batch appends its upsert rows to `<state>/cdc/
        * v<batchId>` — the S14 change feed a downstream trigger consumes
        * (reference DynamoDB Stream NEW_IMAGE, main.tf:85-93) */
      emitCdc: Boolean = false,
      /** when false, the batch publishes its table version WITHOUT the
        * summarize pass: summarization is then driven exclusively by a
        * downstream [[CdcConsumer]] of the change feed (pair with
        * `emitCdc = true`) — the reference's decoupled trigger seam,
        * where the summarizer reacts to the stream instead of running
        * inside the clustering batch */
      inlineSummarize: Boolean = true,
      /** optional serving-table sink: per-batch partition-pruned bucket
        * rebuild into a [[graft.operators.ClusterStore]] (the DynamoDB
        * analog). Touched buckets are rewritten wholesale from the
        * versioned table, so replays are idempotent and a crash mid-write
        * is repaired by the replay (self-healing). */
      servingStore: Option[graft.operators.ClusterStore] = None,
      /** Shuffle partitions for the per-batch dataflow (None = session
        * value), set for the span of the batch by
        * [[graft.SparkHygiene.withBatchExecution]]. A micro-batch is
        * bounded, so host-sized exchanges are pure scheduling overhead
        * and every state write fans into that many files — the batch
        * analog of the catalog drains' streamStateSession sizing
        * (optimization r15, guide §2.2; the interleaved wrapper probe
        * measured 32 host-sized partitions at zero benefit over 8). At
        * real volumes a deployment raises it — this is the knob, made
        * explicit. */
      batchShufflePartitions: Option[Int] = None,
      /** AQE for the per-batch dataflow, set for the span of the batch
        * by [[graft.SparkHygiene.withBatchExecution]]. Default OFF, measured
        * (optimization r15, the NewsPipeline r4 lesson reproduced on
        * the wrapper: the batch's joins all have a batch-bounded side —
        * the ε-join and the merge broadcast it by hint, and the upsert
        * and the trigger run on the driver over local relations — so
        * static planning is already optimal and AQE's per-exchange
        * stage materialization is pure scheduling overhead; the
        * interleaved probe measured 925 → 217 jobs and ~60 → ~35 s per
        * drain with identical results). Turn on for deployments with
        * skewed, stats-less batch inputs. */
      batchAdaptive: Boolean = false) {
    require(retainVersions >= 1,
      s"retainVersions must be >= 1 (0 would prune the version a batch just wrote), got $retainVersions")
    batchShufflePartitions.foreach(n =>
      require(n > 0, s"batchShufflePartitions must be positive, got $n"))
  }

  def emptyPool(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.pool)

  private def versionPath(base: String, v: Long) = s"$base/v$v"

  /** The [[CdcConsumer]]'s summarized OVERLAY of a table version: same
    * content as `v<N>` plus the summarize pass. Each consumer pass
    * publishes a FRESH pass dir — `v<N>s` (pass 0), `v<N>s1`, `v<N>s2`,
    * … — committed by its `_SUCCESS` ([[readVersion]] says which one a
    * reader gets). Nothing is renamed or overwritten under a reader
    * (ADVICE r6 — the old delete-then-rename swap could FileNotFound a
    * reader that had planned against the live overlay): prior passes
    * survive the consumer's `gracePasses` window (default 1 — see
    * [[CdcConsumer]] for the bound's honest statement), and the base
    * version is never deleted, so no crash or race window can make
    * state disappear.
    */
  private[streaming] def overlayPath(base: String, v: Long) = s"$base/v${v}s"

  private[streaming] def overlayPassPath(base: String, v: Long, pass: Long) =
    if (pass == 0L) overlayPath(base, v) else s"${overlayPath(base, v)}$pass"

  /** Overlay pass number from a parsed dir suffix: `s` → 0, `s<P>` → P;
    * the base (``""``) is not an overlay. */
  private[streaming] def overlayPass(suffix: String): Option[Long] =
    if (suffix == "s") Some(0L)
    else if (suffix.length > 1 && suffix.head == 's')
      suffix.tail.toLongOption.filter(_ > 0L)
    else None

  /** (version, suffix) parsed from a state dir name — `v<N>` or
    * `v<N>s`/`v<N>s<P>` (overlay passes); any other name is junk and
    * never read. `toLongOption`: a stray >19-digit dir name is junk to
    * skip, not a NumberFormatException that kills listings (ADVICE r6). */
  private[streaming] def parseVersionDir(name: String): Option[(Long, String)] = {
    if (!name.startsWith("v")) return None
    val digits = name.drop(1).takeWhile(_.isDigit)
    val suffix = name.drop(1 + digits.length)
    val suffixOk = suffix == "" || overlayPass(suffix).isDefined
    if (digits.isEmpty || !suffixOk) None
    else digits.toLongOption.map((_, suffix))
  }

  private def committed(fs: org.apache.hadoop.fs.FileSystem, dir: Path): Boolean =
    fs.exists(new Path(dir, "_SUCCESS"))

  /** (version, suffix, path) of every version dir under `base`, from
    * one listing; whether each is committed is left to the caller. */
  private def versionDirs(fs: org.apache.hadoop.fs.FileSystem,
                          base: String): Seq[(Long, String, Path)] = {
    val p = new Path(base)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.flatMap { st =>
      parseVersionDir(st.getPath.getName).map { case (v, sfx) => (v, sfx, st.getPath) }
    }
  }

  private def fsOf(spark: SparkSession, base: String) =
    new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version, suffix) of every committed version dir under `base`. */
  private def committedDirs(spark: SparkSession, base: String): Seq[(Long, String)] = {
    val fs = fsOf(spark, base)
    versionDirs(fs, base).collect { case (v, sfx, dir) if committed(fs, dir) => (v, sfx) }
  }

  /** Committed base versions (`v<N>` with a `_SUCCESS`) under `base`,
    * ascending. */
  private[streaming] def committedVersions(spark: SparkSession, base: String): Seq[Long] =
    committedDirs(spark, base).collect { case (v, "") => v }.sorted

  /** Committed overlay pass numbers for table version `v`, ascending. */
  private[streaming] def overlayPasses(spark: SparkSession, base: String,
                                       v: Long): Seq[Long] =
    committedDirs(spark, base).collect { case (`v`, sfx) => overlayPass(sfx) }.flatten.sorted

  /** State version `v` under `base`, or `empty` when nothing is
    * committed. This is how every reader resolves a version: each
    * version dir is committed by its `_SUCCESS`, the newest committed
    * [[CdcConsumer]] overlay pass of `v` outranks older passes and the
    * base `v<N>`, and uncommitted (partial) dirs are never read. Every
    * version is written from frames of `empty`'s schema, so the read
    * takes that schema as given instead of inferring it, which costs a
    * Spark job per read. */
  private[streaming] def readVersion(spark: SparkSession, base: String, v: Long,
                                     empty: => DataFrame): DataFrame = {
    if (v < 0) return empty
    val fs = fsOf(spark, base)
    readListed(spark, fs, base, v, versionDirs(fs, base), empty.schema).getOrElse(empty)
  }

  /** [[readVersion]] over an existing listing `dirs` of `base`: the
    * newest committed overlay pass of `v` that still reads, older
    * committed passes (the grace window) if a pass was pruned since the
    * listing, then the base version if committed. Only the dirs tried
    * are checked for their `_SUCCESS`. */
  private def readListed(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
                         base: String, v: Long, dirs: Seq[(Long, String, Path)],
                         schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    val reader = spark.read.schema(schema)
    val basePath = new Path(versionPath(base, v))
    dirs.filter(_._1 == v).flatMap { case (_, sfx, dir) => overlayPass(sfx).map((_, dir)) }
      .sortBy(-_._1).iterator
      .collect { case (_, over) if committed(fs, over) => over }
      .flatMap(over => scala.util.Try(reader.parquet(over.toString)).toOption)
      .nextOption()
      .orElse(Option.when(committed(fs, basePath))(reader.parquet(basePath.toString)))
  }

  private def prune(spark: SparkSession, base: String, latest: Long, retain: Int): Unit = {
    val fs = fsOf(spark, base)
    versionDirs(fs, base).foreach { case (v, _, dir) =>
      if (v <= latest - retain) fs.delete(dir, true)
    }
  }

  /** One micro-batch's result from [[step]]: the next `pool` (a
    * checkpoint the caller frees; the caller's own for an empty batch),
    * the next `table` (lazy over the caller's table and local
    * relations: write or checkpoint it before freeing the caller's),
    * the upsert rows `ups` (the change feed, before the summarize pass)
    * and the `updated` PKs. */
  final case class Step(pool: DataFrame, ups: DataFrame, table: DataFrame,
                        updated: DataFrame, batchSize: Long)

  /** The micro-batch dataflow (reference `process_records.py:556-608`)
    * from the caller's `pool` and `table`: required-field filter →
    * preprocess → embed → cluster → upsert → trigger → summarize →
    * merge. [[processBatch]] and `NewsPipeline.run` both run it; where
    * state lives and when it is freed is theirs. Run it under
    * [[withBatchExecution]]. If it throws, it has freed what it built.
    *
    * Build-once contract: the preprocessed batch is collected once, in
    * one job, and handed onward as a local relation, and the pool is
    * the one checkpoint the batch builds (`Clustering.step`). Everything
    * after clustering is bounded by the batch and runs on the driver:
    * `ClusterTable.upsertRows` reads the touched clusters' metadata
    * rows in one filtered job, and the inline summarize pass reads the
    * fired clusters' article rows in another, summarizes them in a
    * third and rewrites the upsert rows in place
    * (`ClusterTable.summarizeLocal`). The upsert rows are a local
    * relation every reader shares, and the next table is
    * `merge(table, summarized upsert rows)`, computed once by whoever
    * writes it. An empty batch returns the caller's state without
    * clustering.
    */
  def step(pool: DataFrame, table: DataFrame, batch: DataFrame, cfg: Config): Step = {
    val spark = table.sparkSession
    // P10: a JSON file source parses corrupt lines to all-null rows;
    // drop records missing the required-field contract
    // (README.md:204-221 — id/text/title/date) before processing
    val valid = batch.filter(
      col("id").isNotNull && col("text").isNotNull &&
        col("title").isNotNull && col("date").isNotNull)
    val preppedPlan = Preprocess(valid, cfg.embedDim)
    val preppedRows = preppedPlan.collect()
    if (preppedRows.isEmpty) {
      val none = ClusterTable.emptyTable(spark)
      return Step(pool, none, table, none.select(col("PK")), 0L)
    }
    val prepped = spark.createDataFrame(preppedRows.toSeq.asJava, preppedPlan.schema)
    val clustered = Clustering.step(
      pool, prepped.select(col("id"), col("concat_embedding")),
      Clustering.Config(eps = cfg.eps, strategy = cfg.strategy,
        singletonTtl = cfg.singletonTtl))
    val updated = clustered.assignments.select(col("cluster_id").as("PK")).distinct()
    try {
      val (ups, next) = ClusterTable.upsertBatch(table, clustered.assignments, prepped,
        cfg.clock, Option.when(cfg.inlineSummarize)(cfg.threshold))
      Step(clustered.pool, ups, next, updated, clustered.batchSize)
    } catch { case e: Throwable => graft.SparkHygiene.freeCheckpoint(clustered.pool); throw e }
  }

  /** [[graft.SparkHygiene.withBatchExecution]] with `cfg`'s settings:
    * the one span [[step]] runs in, for every caller. */
  def withBatchExecution[T](spark: SparkSession, cfg: Config)(body: => T): T =
    graft.SparkHygiene.withBatchExecution(spark, cfg.batchShufflePartitions,
      Some(cfg.batchAdaptive))(body)

  /** One micro-batch: [[step]] from state v(batchId-1), written as
    * v(batchId). Public so tests can drive replay semantics directly.
    * The batch leaves no cache pinned, on every exit path.
    */
  def processBatch(batch: DataFrame, batchId: Long, stateDir: String,
                   cfg: Config = Config()): Unit =
    // foreachBatch hands us the stream's own session clone, but tests
    // drive processBatch on shared sessions: the helper leaves the
    // session's conf as it found it either way
    withBatchExecution(batch.sparkSession, cfg) {
      val spark = batch.sparkSession
      val poolBase = s"$stateDir/pool"
      val tableBase = s"$stateDir/table"
      val s = step(readVersion(spark, poolBase, batchId - 1, emptyPool(spark)),
        readVersion(spark, tableBase, batchId - 1, ClusterTable.emptyTable(spark)), batch, cfg)
      try {
        if (s.batchSize == 0) {
          // still publish the state version so restore finds a contiguous chain
          s.pool.write.mode("overwrite").parquet(versionPath(poolBase, batchId))
          s.table.write.mode("overwrite").parquet(versionPath(tableBase, batchId))
        } else {
          // A5 pool statistics as OBSERVED metrics (reference recalculated
          // stats every batch, `process_records.py:313-319,427-434`):
          // observe() piggybacks on the state write — zero extra jobs —
          // and surfaces via QueryExecutionListener / the SQL metrics UI.
          s.pool.observe("graft_pool_stats",
            sum(when(col("is_cluster"), 1).otherwise(0)).as("n_clusters"),
            sum(when(!col("is_cluster"), 1).otherwise(0)).as("n_singletons"),
            sum(col("n_articles")).as("total_articles"))
            .write.mode("overwrite").parquet(versionPath(poolBase, batchId))
          s.table.write.mode("overwrite").parquet(versionPath(tableBase, batchId))
          if (cfg.emitCdc)
            s.ups.write.mode("overwrite").parquet(versionPath(s"$stateDir/cdc", batchId))
          // Serving store: REBUILD the touched buckets wholesale from the
          // versioned table (the source of truth) rather than merging the
          // batch's upserts against the store's current content. A merge
          // would not survive a crash mid-write: dynamic partition
          // overwrite truncates whole buckets, and replaying only the
          // batch's own upserts cannot reinstate OTHER clusters that
          // shared a truncated bucket (ADVICE r2). Replaying a bucket
          // rebuild is idempotent AND self-healing — it always rewrites
          // the complete bucket contents from committed state.
          cfg.servingStore.foreach { store =>
            val truth = spark.read.schema(Schemas.clusters).parquet(versionPath(tableBase, batchId))
            store.rebuildBucketsFor(
              truth, truth.join(broadcast(s.updated), Seq("PK"), "left_semi"))
          }
        }
        prune(spark, poolBase, batchId, cfg.retainVersions)
        prune(spark, tableBase, batchId, cfg.retainVersions)
      } finally graft.SparkHygiene.freeCheckpoint(s.pool)
    }

  /** Latest committed clusters table (the read path / A9 input): the
    * newest committed base version, resolved as [[readVersion]] does,
    * so a committed summarized overlay of it is what the caller sees.
    * One listing of `table/` serves both choices, and only the dirs
    * tried are checked for their `_SUCCESS`. Building the frame
    * schedules no Spark job.
    */
  def latestTable(spark: SparkSession, stateDir: String): DataFrame = {
    val tableBase = s"$stateDir/table"
    val fs = fsOf(spark, tableBase)
    val dirs = versionDirs(fs, tableBase)
    dirs.collect { case (v, "", dir) => (v, dir) }.sortBy(-_._1).iterator
      .collectFirst { case (v, dir) if committed(fs, dir) => v }
      .flatMap(readListed(spark, fs, tableBase, _, dirs, Schemas.clusters))
      .getOrElse(ClusterTable.emptyTable(spark))
  }

  /** Start the stream: `articles` must be a streaming DataFrame with the
    * raw-article schema. Offsets commit under `checkpointDir`; state
    * versions land under `stateDir`.
    */
  def start(articles: DataFrame, stateDir: String, checkpointDir: String,
            cfg: Config = Config(),
            trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    articles.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, stateDir, cfg)
      }
      .start()
}
