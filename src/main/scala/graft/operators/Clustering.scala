package graft.operators

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.VectorMean
import graft.schemas.Schemas

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
        * literal: no sort, no extra shuffle, per-batch cost unchanged.
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
    * @param pool        next pool state (Schemas.pool columns), eagerly
    *                    checkpointed
    * @param assignments one row per new article:
    *                    (article_id, cluster_id, is_cluster, cluster_size,
    *                    batch_new) — cluster-level values post-merge;
    *                    batch_new = #new articles that joined that cluster
    *                    this batch (the A4 counter input). A local
    *                    relation in one partition: nothing to free.
    * @param batchSize   number of new articles in the batch
    */
  case class StepResult(pool: DataFrame, assignments: DataFrame, batchSize: Long)

  /** One pool entry on the driver (a Schemas.pool row). */
  private case class Entry(seq: Long, clusterId: String, ids: Seq[String], n: Long,
                           isCluster: Boolean, centroid: Array[Float]) {
    def row: Row = Row(seq, clusterId, ids, n, isCluster, centroid)
  }

  private val VecSchema = StructType(Seq(
    StructField("seq", LongType, nullable = false),
    StructField("centroid", ArrayType(FloatType))))

  private val AssignmentSchema = StructType(Seq(
    StructField("article_id", StringType),
    StructField("cluster_id", StringType),
    StructField("is_cluster", BooleanType),
    StructField("cluster_size", IntegerType),
    StructField("batch_new", IntegerType)))

  private val LongPairs = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)

  /** The order `row_number` over a string column numbers rows in:
    * Spark's binary UTF-8 order, which differs from `String.compareTo`'s
    * UTF-16 order above the surrogate range. */
  private val SparkStringOrder: Ordering[String] =
    Ordering.fromLessThan((x, y) => UTF8String.fromString(x).compareTo(UTF8String.fromString(y)) < 0)

  private def floats(r: Row, i: Int): Array[Float] =
    Option(r.getSeq[Float](i)).map(_.toArray).orNull

  /** One micro-batch of incremental clustering.
    *
    * Only the batch and the pool entries ε-adjacent to it can change, a
    * few hundred rows per batch, so the merge runs on the driver over
    * three bounded collects instead of as a distributed dataflow whose
    * planning cost exceeds its work at that size:
    *   1. the batch's (id, embedding) rows; new entries get seq
    *      max(seq) + rank, ranked by `id` in Spark's string order;
    *   2. the ε-edges new × (pool ∪ new), through the configured join,
    *      each partition's edges reduced to a spanning forest of
    *      (node, root) pairs by local union-find — bounded by touched
    *      nodes × partitions, not by edge count — tag-unioned with the
    *      pool's max(seq). Until that is known the new entries are keyed
    *      -1 … -n;
    *   3. the touched pool rows, by `seq IN (…)`.
    * The merged rows and the assignments come back as local relations
    * coalesced to one partition: the assignments' single partition lets
    * `ClusterTable.upsertRows` dedup without an exchange, and keeps the
    * state versions to the files a single-partition batch writes. The
    * pool is the untouched pool plus the merged rows, checkpointed.
    *
    * @param pool  current state (Schemas.pool); empty DataFrame on boot
    * @param batch new articles: (id: string, concat_embedding: array<float>),
    *              already deduped (P9), ids not null
    */
  def step(pool: DataFrame, batch: DataFrame, cfg: Config = Config()): StepResult = {
    cfg.singletonTtl.foreach(ttl => require(ttl > 0, s"singletonTtl must be positive, got $ttl"))
    val spark = pool.sparkSession

    val fresh = batch.select(col("id"), col("concat_embedding")).collect()
      .map(r => (r.getString(0), floats(r, 1)))
      .sortBy(_._1)(SparkStringOrder)
    val newVecs = spark.createDataFrame(
      fresh.indices.map(i => Row(-(i + 1).toLong, fresh(i)._2)).asJava, VecSchema)
    val poolVecs = pool.select(col("seq"), col("centroid")).unionByName(newVecs)
    val edges = cfg.strategy match {
      // no edges, and no LSH model can be fit on an empty batch
      case _ if fresh.isEmpty => newVecs.select(col("seq").as("a"), col("seq").as("b"))
      case LshJoin(tables) =>
        // asymmetric: candidates only for the new batch, never pool²
        SimilarityJoin.lsh(newVecs, poolVecs, "seq", "centroid", cfg.eps, tables)
      case BandJoin =>
        SimilarityJoin.bandExact(newVecs, poolVecs, "seq", "centroid", cfg.eps)
      case ExactJoin =>
        // the batch side is broadcast — the pool streams with no shuffle
        SimilarityJoin.exact(newVecs, poolVecs, "seq", "centroid", cfg.eps,
          broadcastLeft = true)
    }
    implicit val longPair: Encoder[(Long, Long)] = LongPairs
    val forest = edges.select(col("a"), col("b")).as[(Long, Long)]
      .mapPartitions(es => ConnectedComponents.roots(es).iterator.filter(p => p._1 != p._2))
      .toDF("x", "y")
      .withColumn("top", lit(false))
    val maxSeqRow = pool.agg(coalesce(max(col("seq")), lit(0L)).as("x"))
      .select(col("x"), lit(0L).as("y"), lit(true).as("top"))
    val (tops, pairs) = forest.unionByName(maxSeqRow).collect().partition(_.getBoolean(2))
    val maxSeq = tops.head.getLong(0)
    def seqOf(key: Long) = if (key < 0) maxSeq - key else key
    val roots = ConnectedComponents.roots(
      pairs.iterator.map(r => (seqOf(r.getLong(0)), seqOf(r.getLong(1)))))
    def rootOf(seq: Long) = roots.getOrElse(seq, seq)

    val touchedPool = roots.keysIterator.filter(_ <= maxSeq).toSeq
    val poolEntries =
      if (touchedPool.isEmpty) Array.empty[Entry]
      else pool.filter(col("seq").isin(touchedPool: _*))
        .select(Schemas.pool.fieldNames.toSeq.map(col): _*).collect()
        .map(r => Entry(r.getLong(0), r.getString(1), r.getSeq[String](2), r.getLong(3),
          r.getBoolean(4), floats(r, 5)))
    val newEntries = fresh.indices.map { i =>
      val (id, v) = fresh(i)
      Entry(maxSeq + i + 1, clusterIdFor(id), Seq(id), 1L, isCluster = false, v)
    }

    // each component collapses onto its smallest seq, which keeps its
    // cluster id; ids concatenate in seq order, capped; the centroid is
    // the UNWEIGHTED mean of the members' vectors
    val components = (poolEntries ++ newEntries).groupBy(e => rootOf(e.seq))
    val merged = components.map { case (root, members) =>
      val ms = members.toSeq.sortBy(_.seq)
      val n = ms.map(_.n).sum
      root -> Entry(root, ms.head.clusterId, ms.flatMap(_.ids).take(PoolIdCap), n,
        isCluster = n > 1, VectorMean.mean(ms.map(_.centroid)))
    }

    // opt-in singleton TTL: drop never-merged entries that lag the
    // newest pool seq by more than ttl — a literal filter, no sort
    val top = maxSeq + fresh.length
    val untouched =
      if (touchedPool.isEmpty) pool else pool.filter(!col("seq").isin(touchedPool: _*))
    val mergedRows = merged.values.toSeq.sortBy(_.seq)
      .filter(e => cfg.singletonTtl.forall(ttl => e.isCluster || e.seq > top - ttl))
    val nextPool = cfg.singletonTtl
      .fold(untouched)(ttl => untouched.filter(col("is_cluster") || col("seq") > top - ttl))
      .unionByName(spark.createDataFrame(mergedRows.map(_.row).asJava, Schemas.pool).coalesce(1))

    // per-new-article assignment to its post-merge cluster
    val assignments = newEntries.map { e =>
      val root = rootOf(e.seq)
      val m = merged(root)
      Row(e.ids.head, m.clusterId, m.isCluster, m.n.toInt, components(root).count(_.seq > maxSeq))
    }
    StepResult(nextPool.localCheckpoint(eager = true),
      spark.createDataFrame(assignments.asJava, AssignmentSchema).coalesce(1),
      fresh.length.toLong)
  }

  /** Pool statistics (A5; reference `process_records.py:313-319,427-434`). */
  def poolStats(pool: DataFrame): DataFrame =
    pool.agg(
      sum(when(col("is_cluster"), 1).otherwise(0)).as("n_clusters"),
      sum(when(!col("is_cluster"), 1).otherwise(0)).as("n_singletons"),
      sum(col("n_articles")).as("total_articles"))
}
