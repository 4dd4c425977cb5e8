package graft

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{Clustering, ConnectedComponents, SimilarityJoin}
import graft.operators.Clustering._
import graft.schemas.Schemas

/** Property tests (SURVEY §5.2): for randomly planted geometries, the
  * engine's incremental partition must equal a brute-force single-linkage
  * oracle (union-find over all pairwise distances ≤ ε) computed in-test —
  * across multiple micro-batch splits of the same data — and the step's
  * driver-side merge must reproduce the distributed dataflow it replaced
  * bit for bit.
  */
class ClusteringPropertySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val eps = 0.10

  private def emptyPool =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.pool)

  private def randomUnit(rnd: Random): Array[Double] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  private def jitter(base: Array[Double], rnd: Random, scale: Double): Array[Float] = {
    val v = base.map(x => x + rnd.nextGaussian() * scale)
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Brute-force single-linkage over FLOAT vectors with the engine's
    * incremental semantics: distances are evaluated against the evolving
    * POOL (centroid-collapsed per batch), exactly like
    * `process_records.py:344-354` — so the oracle replays batches too,
    * but with plain in-memory union-find instead of DataFrames.
    */
  private def oracle(batches: Seq[Seq[(String, Array[Float])]]): Set[Set[String]] = {
    // pool entry: (members, centroid as double array)
    var pool = Vector.empty[(Vector[String], Array[Double])]
    for (batch <- batches) {
      val entries = pool ++ batch.map { case (id, v) =>
        (Vector(id), v.map(_.toDouble))
      }
      val nOld = pool.size
      val parent = Array.tabulate(entries.size)(identity)
      def find(i: Int): Int = if (parent(i) == i) i else { parent(i) = find(parent(i)); parent(i) }
      def union(i: Int, j: Int): Unit = { val (a, b) = (find(i), find(j)); if (a != b) parent(math.max(a, b)) = math.min(a, b) }
      for {
        i <- nOld until entries.size // new × (pool ∪ new), like the engine
        j <- 0 until entries.size
        if i != j
      } {
        val d = 1.0 - entries(i)._2.zip(entries(j)._2).map { case (x, y) => x * y }.sum
        if (math.min(math.max(d, 0.0), 1.0) <= eps) union(i, j)
      }
      pool = entries.indices.groupBy(find).toVector.sortBy(_._1).map { case (_, idxs) =>
        val members = idxs.sorted.flatMap(entries(_)._1).toVector
        val centroid = idxs.map(entries(_)._2)
          .reduce((a, b) => a.zip(b).map(t => t._1 + t._2))
          .map(_ / idxs.size)
        (members, centroid)
      }
    }
    pool.map(_._1.toSet).toSet
  }

  test("engine partition equals the in-test single-linkage oracle over random seeds") {
    for (seed <- Seq(7, 21, 99)) {
      val rnd = new Random(seed)
      val centers = Seq.fill(4)(randomUnit(rnd))
      val points = for {
        (c, g) <- centers.zipWithIndex
        i <- 0 until (3 + rnd.nextInt(4))
      } yield (f"s${seed}g${g}i$i", jitter(c, rnd, 0.015))

      // 3 micro-batches, round-robin split
      val batches = points.zipWithIndex.groupBy(_._2 % 3).toSeq.sortBy(_._1)
        .map(_._2.map(_._1))

      var pool = emptyPool
      for (b <- batches)
        pool = Clustering.step(pool, vecBatch(b: _*)).pool
      val got = pool.select("article_ids").as[Seq[String]].collect()
        .map(_.toSet).toSet

      assert(got == oracle(batches), s"partition mismatch at seed $seed")
    }
  }

  /** The step as a distributed dataflow — a global window for the seqs,
    * connected components over the ε-edges, the merge and the
    * assignments as aggregates — kept as the reference the driver-side
    * merge of [[Clustering.step]] must equal: (pool, assignments). */
  private def referenceStep(pool: DataFrame, batch: DataFrame,
                            cfg: Clustering.Config): (DataFrame, DataFrame) = {
    val maxSeqDf = pool.agg(coalesce(max(col("seq")), lit(0L)).as("__maxSeq"))
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
    val pool2 = pool.unionByName(newEntries).persist(StorageLevel.MEMORY_AND_DISK)
    val poolVecs = pool2.select(col("seq"), col("centroid"))
    val newVecs = newEntries.select(col("seq"), col("centroid"))
    val edges = cfg.strategy match {
      case LshJoin(tables) =>
        SimilarityJoin.lsh(newVecs, poolVecs, "seq", "centroid", cfg.eps, tables)
      case BandJoin =>
        SimilarityJoin.bandExact(newVecs, poolVecs, "seq", "centroid", cfg.eps)
      case ExactJoin =>
        SimilarityJoin.exact(newVecs, poolVecs, "seq", "centroid", cfg.eps,
          broadcastLeft = true)
    }
    val edgesP = edges.select(col("a"), col("b")).persist(StorageLevel.MEMORY_AND_DISK)
    val touchedNodes = edgesP.select(col("a").as("node"))
      .union(edgesP.select(col("b").as("node")))
      .union(newEntries.select(col("seq").as("node")))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val touched = pool2.join(broadcast(touchedNodes),
      pool2("seq") === touchedNodes("node"), "left_semi")
    val untouched = pool2.join(broadcast(touchedNodes),
      pool2("seq") === touchedNodes("node"), "left_anti")
    val comp = broadcast(ConnectedComponents.run(
      touchedNodes, edgesP.select(col("a").as("src"), col("b").as("dst"))))
    val labeled = touched.join(comp, touched("seq") === comp("node")).drop("node")
    val mergedTouchedC = labeled
      .groupBy(col("component"))
      .agg(
        min(col("seq")).as("seq"),
        min_by(col("cluster_id"), col("seq")).as("cluster_id"),
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
    val boundedPool = cfg.singletonTtl match {
      case Some(ttl) =>
        val topDf = newEntries.agg(max(col("seq")).as("__newTop"))
          .crossJoin(broadcast(maxSeqDf))
          .select(greatest(coalesce(col("__newTop"), lit(0L)), col("__maxSeq")).as("__top"))
        untouched.unionByName(mergedTouched)
          .crossJoin(broadcast(topDf))
          .filter(col("is_cluster") || col("seq") > col("__top") - ttl)
          .drop("__top")
      case None => untouched.unionByName(mergedTouched)
    }
    val newArticles = newEntries.select(explode(col("article_ids")).as("article_id"), col("seq"))
    val newComp = newArticles.join(comp, newArticles("seq") === comp("node"))
      .select(col("article_id"), col("component"))
    val clusterInfo = mergedTouchedC.select(col("component"), col("cluster_id"),
      col("is_cluster"), col("n_articles").cast("int").as("cluster_size"))
    val assignments = newComp
      .join(clusterInfo, "component")
      .groupBy(col("cluster_id"), col("is_cluster"), col("cluster_size"))
      .agg(collect_list(col("article_id")).as("ids"))
      .select(explode(col("ids")).as("article_id"),
        col("cluster_id"), col("is_cluster"), col("cluster_size"),
        size(col("ids")).as("batch_new"))
      .localCheckpoint(true)
    val nextPool = boundedPool.localCheckpoint(true)
    Seq(newEntries, pool2, edgesP, touchedNodes, mergedTouchedC).foreach(_.unpersist())
    comp.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.unpersist(blocking = false) }
    (nextPool, assignments)
  }

  /** Pool rows in seq order, centroids as raw float bits. */
  private def poolBits(pool: DataFrame) =
    pool.select(Schemas.pool.fieldNames.toSeq.map(col): _*).collect().toSeq.map { r =>
      (r.getLong(0), r.getString(1), r.getSeq[String](2), r.getLong(3), r.getBoolean(4),
        r.getSeq[Float](5).map(java.lang.Float.floatToRawIntBits))
    }.sortBy(_._1)

  private def assignmentRows(assignments: DataFrame) =
    assignments.select("article_id", "cluster_id", "is_cluster", "cluster_size", "batch_new")
      .as[(String, String, Boolean, Int, Int)].collect().toSeq.sorted

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `batches` through both steps from `pool`, asserting equal pools
    * and assignments after every batch, and that the step leaves nothing
    * persisted but its pool's checkpoint. */
  private def assertSameAsReference(pool: DataFrame, batches: Seq[DataFrame],
                                    cfg: Clustering.Config, what: String): Unit = {
    var (got, want) = (pool, pool)
    for ((batch, b) <- batches.zipWithIndex) {
      val before = persisted
      val step = Clustering.step(got, batch, cfg)
      val ck = step.pool.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
      assert(persisted -- before == Set(ck), s"$what batch $b left a persist behind")
      val (refPool, refAsg) = referenceStep(want, batch, cfg)
      assert(step.batchSize == batch.count(), s"$what batch $b")
      assert(poolBits(step.pool) == poolBits(refPool), s"$what batch $b: pools differ")
      assert(assignmentRows(step.assignments) == assignmentRows(refAsg),
        s"$what batch $b: assignments differ")
      got = step.pool
      want = refPool
    }
  }

  /** Ids whose UTF-16 order (String.compareTo) and UTF-8 byte order
    * (Spark's) disagree: U+FF21 sorts after the surrogate pair of U+1F600
    * in UTF-16 and before its 4-byte UTF-8 form. */
  private val Prefixes = Seq("a", "\uFF21", "\uD83D\uDE00", "\u00E9", "z")

  /** `n` articles around 4 planted centers (groups of near-duplicates,
    * so within-batch edges span the batch's partitions) plus far
    * singletons, with ids over [[Prefixes]]. */
  private def randomBatch(rnd: Random, centers: Seq[Array[Double]], tag: String,
                          n: Int): Seq[(String, Array[Float])] =
    (0 until n).map { i =>
      val id = s"${Prefixes(rnd.nextInt(Prefixes.size))}$tag-$i"
      val v = if (rnd.nextInt(4) == 0) jitter(randomUnit(rnd), rnd, 0.0)
        else jitter(centers(rnd.nextInt(centers.size)), rnd, 0.012)
      id -> v
    }

  test("driver merge equals the distributed reference: every join strategy, " +
    "singletonTtl, empty batch and pool, UTF-8 id order") {
    val (fullwidth, emoji) = ("u\uFF21", "u\uD83D\uDE00")
    assert(fullwidth.compareTo(emoji) > 0 && UTF8String.fromString(fullwidth)
      .compareTo(UTF8String.fromString(emoji)) < 0)
    val configs = Seq(Clustering.Config(), Clustering.Config(strategy = BandJoin),
      Clustering.Config(strategy = LshJoin()), Clustering.Config(singletonTtl = Some(20L)))
    for ((cfg, k) <- configs.zipWithIndex) {
      val rnd = new Random(40 + k)
      val centers = Seq.fill(4)(randomUnit(rnd))
      val batches = (0 until 3).map { b =>
        val rows = randomBatch(rnd, centers, s"k${k}b$b", 24)
        vecBatch((if (b == 0) rows ++ Seq(fullwidth -> rows.head._2, emoji -> rows.head._2) else rows): _*)
      }
      // the reference cannot fit an LSH model on an empty batch
      val withEmpty = if (cfg.strategy.isInstanceOf[LshJoin]) batches
        else vecBatch() +: batches :+ vecBatch()
      assertSameAsReference(emptyPool, withEmpty, cfg, s"config $k ($cfg)")
    }
    val empty = Clustering.step(emptyPool, vecBatch(), Clustering.Config(strategy = LshJoin()))
    assert(empty.batchSize == 0 && empty.pool.count() == 0 && empty.assignments.count() == 0)
  }

  test("driver merge equals the distributed reference past PoolIdCap ids") {
    val rnd = new Random(5)
    val v = jitter(randomUnit(rnd), rnd, 0.0)
    val far = jitter(randomUnit(rnd), rnd, 0.0)
    def entry(seq: Long, n: Int, c: Array[Float]) = Row(seq, s"c$seq",
      (0 until n).map(i => s"p$seq-$i"), n.toLong, n > 1, c)
    // two clusters with one centroid: the batch joins both, over the cap
    val pool = spark.createDataFrame(Seq(entry(3L, 700, v), entry(7L, 1, far),
      entry(9L, 600, v)).asJava, Schemas.pool)
    assertSameAsReference(pool, Seq(vecBatch("new" -> v)), Clustering.Config(), "cap")
    val merged = Clustering.step(pool, vecBatch("new" -> v)).pool.filter(col("seq") === 3L)
      .select("article_ids", "n_articles").as[(Seq[String], Long)].head()
    assert(merged._1.size == PoolIdCap && merged._2 == 1301L)
  }
}
