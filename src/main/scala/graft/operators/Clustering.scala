package graft.operators

import java.nio.charset.StandardCharsets
import java.util.UUID

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Incremental ε-clustering over a decaying centroid pool — the heart of
  * the engine (SURVEY ST2; reference `process_records.py:283-445` +
  * `clustering.py:53-118`).
  *
  * Semantics per micro-batch (DBSCAN eps, min_samples=2 degenerates to
  * single-linkage components of the ε-graph):
  *   1. every new article enters the pool as a singleton entry;
  *   2. ε-edges are computed between NEW entries and the whole pool
  *      (the reference's incremental distance block,
  *      `process_records.py:344-354` — old×old pairs were already ≤ε
  *      merged in earlier batches, so only new-touching edges exist);
  *   3. connected components over those edges form merge groups;
  *   4. each group collapses to one pool entry: the member with the
  *      smallest pool position keeps the cluster id
  *      (`process_records.py:371-384`), article-id lists concatenate in
  *      pool order, the centroid is the UNWEIGHTED mean of the member
  *      pool vectors (`process_records.py:396-400` — a quirk preserved:
  *      not weighted by article count).
  *
  * Cluster ids are deterministic (UUIDv3 of the first article id) so
  * golden tests are stable — the reference uses uuid4
  * (`process_records.py:330`), flagged non-deterministic in SURVEY §7.3.
  */
object Clustering {

  val DefaultEps = 0.10

  /** Max article ids retained per pool row. A hot cluster at 100× scale
    * would otherwise put its entire membership in one row/buffer
    * (VERDICT r1: "unbounded per-cluster arrays"); `n_articles` carries
    * the true count, the id list is a bounded sample.
    */
  val PoolIdCap = 1024

  /** Physical strategy for the ε-edge join (one semantic contract). */
  sealed trait JoinStrategy
  /** Broadcast batch × streamed pool cross join — right when the batch
    * is micro-batch-sized (the reference's own O(M·N) design). */
  case object ExactJoin extends JoinStrategy
  /** Lossless pivot-band equi-join — exact results, partitionable plan;
    * right when both sides are large. */
  case object BandJoin extends JoinStrategy
  /** Approximate LSH — sub-quadratic with tunable recall; the extreme-
    * scale escape hatch. */
  case class LshJoin(numHashTables: Int = 4) extends JoinStrategy

  case class Config(
      eps: Double = DefaultEps,
      strategy: JoinStrategy = ExactJoin,
      /** Opt-in state-growth bound (VERDICT r5 missing #3). The
        * reference pool keeps every never-merged singleton forever
        * (`process_records.py:321-336` grows `embeds` unboundedly) — so
        * does the default (None, reference parity). With Some(ttl), a
        * SINGLETON is evicted once `ttl` newer pool entries exist
        * without it having merged into a cluster — seq is the pool's
        * arrival counter, so ttl ≈ batches-to-live × batch size.
        * Clusters are never evicted. Eviction is a filter against a
        * broadcast scalar: no sort, no extra shuffle, per-batch cost
        * unchanged.
        */
      singletonTtl: Option[Long] = None)

  /** Deterministic stand-in for the reference's `uuid4()` cluster ids. */
  def clusterIdFor(articleId: String): String =
    UUID.nameUUIDFromBytes(("graft-cluster:" + articleId)
      .getBytes(StandardCharsets.UTF_8)).toString

  /** Column form of [[clusterIdFor]] in pure built-ins (codegen'd — the
    * former Scala UDF here was the last per-row UDF in the clustering hot
    * path, VERDICT r4 #4). `UUID.nameUUIDFromBytes` is MD5 with two
    * nibble patches: byte 6's high nibble := 3 (version, hex char 13) and
    * byte 8's high nibble := (nibble & 0x3) | 0x8 (variant, hex char 17);
    * the a9 oracle SQL applies the identical patching in DuckDB.
    */
  def clusterIdCol(articleId: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val h = md5(concat(lit("graft-cluster:"), articleId))
    val variantNibble = conv(substring(h, 17, 1), 16, 10).cast("int")
    val variant = lower(conv((pmod(variantNibble, lit(4)) + lit(8)).cast("string"), 10, 16))
    concat_ws("-",
      substring(h, 1, 8),
      substring(h, 9, 4),
      concat(lit("3"), substring(h, 14, 3)),
      concat(variant, substring(h, 18, 3)),
      substring(h, 21, 12))
  }

  /** Result of one micro-batch step.
    *
    * @param pool        next pool state (Schemas.pool columns)
    * @param assignments one row per new article:
    *                    (article_id, cluster_id, is_cluster, cluster_size,
    *                    batch_new) — cluster-level values post-merge;
    *                    batch_new = #new articles that joined that cluster
    *                    this batch (the A4 counter input)
    */
  case class StepResult(pool: DataFrame, assignments: DataFrame)

  /** One micro-batch of incremental clustering.
    *
    * @param pool  current state (Schemas.pool); empty DataFrame on boot
    * @param batch new articles: (id: string, concat_embedding: array<float>),
    *              already deduped (P9)
    */
  def step(pool: DataFrame, batch: DataFrame, cfg: Config = Config()): StepResult = {
    val spark = pool.sparkSession

    // seq allocation stays distributed: the scalar max folds in via a
    // broadcast single-row cross join instead of a blocking head()
    // (VERDICT r1 "what's wrong" #8 — driver actions serialize the loop)
    val maxSeqDf = pool.agg(coalesce(max(col("seq")), lit(0L)).as("__maxSeq"))

    // New singleton entries. row_number over a single global window is a
    // 1-partition shuffle of the BATCH only (micro-batches are bounded —
    // 500 in the reference); the pool never passes through it.
    val newEntries = batch
      .select(col("id"), col("concat_embedding"))
      .withColumn("__rn", row_number().over(Window.orderBy(col("id"))))
      .crossJoin(broadcast(maxSeqDf))
      .select(
        (col("__rn").cast("long") + col("__maxSeq")).as("seq"),
        clusterIdCol(col("id")).as("cluster_id"),
        array(col("id")).as("article_ids"),
        lit(1L).as("n_articles"),
        lit(false).as("is_cluster"),
        col("concat_embedding").as("centroid"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val pool2 = pool.unionByName(newEntries)
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ε-edges: new × (pool ∪ new). The batch side is broadcast — the big
    // pool side streams through with no shuffle.
    val poolVecs = pool2.select(col("seq"), col("centroid"))
    val newVecs = newEntries.select(col("seq"), col("centroid"))
    val edges = cfg.strategy match {
      case LshJoin(tables) =>
        // asymmetric: candidates only for the new batch, never pool²
        SimilarityJoin.lsh(newVecs, poolVecs, "seq", "centroid", cfg.eps, tables)
      case BandJoin =>
        SimilarityJoin.bandExact(newVecs, poolVecs, "seq", "centroid", cfg.eps)
      case ExactJoin =>
        SimilarityJoin.exact(newVecs, poolVecs, "seq", "centroid", cfg.eps,
          broadcastLeft = true)
    }

    // Only pool entries adjacent to this batch can change: restrict the
    // component search and the merge regroup to TOUCHED nodes (edge
    // endpoints ∪ new entries, a batch-bounded set) and stream the
    // untouched pool through untouched — the per-batch cost is
    // O(batch + neighbors), independent of pool size.
    val edgesP = edges.select(col("a"), col("b"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val touchedNodes = edgesP.select(col("a").as("node"))
      .union(edgesP.select(col("b").as("node")))
      .union(newEntries.select(col("seq").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK) // 3 consumers: CC + both splits
    val touched = pool2.join(broadcast(touchedNodes),
      pool2("seq") === touchedNodes("node"), "left_semi")
    val untouched = pool2.join(broadcast(touchedNodes),
      pool2("seq") === touchedNodes("node"), "left_anti")

    // comp is touched-set-sized; when the union-find fast path returns a
    // local relation it carries no stats, so broadcast explicitly
    val comp = broadcast(ConnectedComponents.run(
      touchedNodes,
      edgesP.select(col("a").as("src"), col("b").as("dst"))))

    val labeled = touched.join(comp, touched("seq") === comp("node")).drop("node")

    // component key retained through the merge aggregation — the
    // per-article assignment path below reuses it directly instead of
    // re-deriving component→seq with a second groupBy + join
    val mergedTouchedC = labeled
      .groupBy(col("component"))
      .agg(
        min(col("seq")).as("seq"),
        min_by(col("cluster_id"), col("seq")).as("cluster_id"),
        // bounded: concat in pool order, then cap — n_articles keeps truth
        slice(
          flatten(transform(
            array_sort(collect_list(struct(col("seq").as("s"), col("article_ids").as("ids")))),
            x => x.getField("ids"))),
          1, PoolIdCap).as("article_ids"),
        sum(col("n_articles")).as("n_articles"),
        graft.functions.VectorMean(col("centroid")).as("centroid"))
      .withColumn("is_cluster", col("n_articles") > 1)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val mergedTouched = mergedTouchedC
      .select("seq", "cluster_id", "article_ids", "n_articles", "is_cluster", "centroid")

    // opt-in singleton TTL: drop never-merged entries that lag the
    // newest pool seq by more than ttl. The high-water mark comes from
    // the (persisted, batch-bounded) new entries — one cheap agg
    // broadcast into a filter, never a pool-wide sort.
    val boundedPool = cfg.singletonTtl match {
      case Some(ttl) =>
        require(ttl > 0, s"singletonTtl must be positive, got $ttl")
        val topDf = newEntries.agg(max(col("seq")).as("__newTop"))
          .crossJoin(broadcast(maxSeqDf))
          .select(greatest(coalesce(col("__newTop"), lit(0L)), col("__maxSeq")).as("__top"))
        untouched.unionByName(mergedTouched)
          .crossJoin(broadcast(topDf))
          .filter(col("is_cluster") || col("seq") > col("__top") - ttl)
          .drop("__top")
      case None => untouched.unionByName(mergedTouched)
    }
    // per-new-article assignment to its post-merge cluster
    val newArticles = newEntries.select(
      explode(col("article_ids")).as("article_id"), col("seq"))
    val newComp = newArticles.join(comp, newArticles("seq") === comp("node"))
      .select(col("article_id"), col("component"))
    val clusterInfo = mergedTouchedC
      .select(
        col("component"),
        col("cluster_id"),
        col("is_cluster"),
        col("n_articles").cast("int").as("cluster_size"))
    val asgPlan = newComp
      .join(clusterInfo, "component")
      .groupBy(col("cluster_id"), col("is_cluster"), col("cluster_size"))
      .agg(collect_list(col("article_id")).as("ids"))
      .select(
        explode(col("ids")).as("article_id"),
        col("cluster_id"), col("is_cluster"), col("cluster_size"),
        size(col("ids")).as("batch_new"))
    // two SEQUENTIAL eager checkpoints (lineage truncation across
    // micro-batches). Both measured alternatives lost (VERDICT r10 #3
    // follow-up, A9Bench 3-run draws on identical data):
    //  - a tagged-union single checkpoint: −1 job/batch but every
    //    assignments consumer then re-scans the pool's wide centroid
    //    rows through the shared RDD (+20% a9 warm);
    //  - concurrent submission via Futures: the first-read race on the
    //    shared persisted inputs duplicates their computation (+10%).
    // The second job reuses the first job's materialized persists, so
    // sequential is the cheapest total-work ordering.
    val mergedPool = boundedPool.localCheckpoint(true)
    val assignments = asgPlan.localCheckpoint(true)

    newEntries.unpersist()
    pool2.unpersist()
    edgesP.unpersist()
    touchedNodes.unpersist()
    mergedTouchedC.unpersist()
    // the CC labels checkpoint (distributed path only) is fully consumed:
    // both step outputs are eagerly checkpointed above
    graft.SparkHygiene.freeCheckpointsIn(comp)
    StepResult(mergedPool, assignments)
  }

  /** Pool statistics (A5; reference `process_records.py:313-319,427-434`). */
  def poolStats(pool: DataFrame): DataFrame =
    pool.agg(
      sum(when(col("is_cluster"), 1).otherwise(0)).as("n_clusters"),
      sum(when(!col("is_cluster"), 1).otherwise(0)).as("n_singletons"),
      sum(col("n_articles")).as("total_articles"))
}
