package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.operators.Clustering
import graft.schemas.Schemas

class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def emptyPool =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.pool)

  private def poolRows(pool: org.apache.spark.sql.DataFrame) =
    pool.select("cluster_id", "article_ids", "is_cluster")
      .as[(String, Seq[String], Boolean)].collect()
      .map { case (cid, ids, ic) => (cid, ids.sorted, ic) }.toSet

  test("within-batch: planted groups merge, chain merges transitively " +
    "(single-linkage = DBSCAN min_samples=2)") {
    // chain a-b-c each 0.08 apart (a-c ≈ 0.16 > eps) + isolated d
    val a = unit(1, 0, 0, 0)
    val b = unit(0.92, math.sqrt(1 - 0.92 * 0.92), 0, 0)
    val th = 2 * math.acos(0.92)
    val c = unit(math.cos(th), math.sin(th), 0, 0)
    val d = unit(0, 0, 1, 0)
    val step = Clustering.step(emptyPool,
      vecBatch("a" -> a, "b" -> b, "c" -> c, "d" -> d),
      Clustering.Config(eps = 0.10))
    val rows = poolRows(step.pool)
    assert(rows.map(_._2) == Set(Seq("a", "b", "c"), Seq("d")))
    assert(rows.find(_._2.size == 3).get._3) // is_cluster
    assert(!rows.find(_._2 == Seq("d")).get._3)
  }

  test("cross-batch: a new article within eps of an existing pool entry " +
    "joins that cluster and keeps its id (regression for the a<b edge drop)") {
    val base = unit(1, 0, 0, 0)
    val near = unit(1, 0.05, 0, 0)
    val later = unit(1, 0.03, 0.03, 0)
    val s1 = Clustering.step(emptyPool, vecBatch("a1" -> base, "a2" -> near))
    val c1 = s1.pool.select("cluster_id").as[String].head()
    assert(c1 == Clustering.clusterIdFor("a1"))

    val s2 = Clustering.step(s1.pool, vecBatch("b1" -> later))
    val rows = poolRows(s2.pool)
    assert(rows == Set((c1, Seq("a1", "a2", "b1"), true)))
    val assign = s2.assignments
      .select("article_id", "cluster_id", "cluster_size", "batch_new")
      .as[(String, String, Int, Int)].collect()
    assert(assign.toSeq == Seq(("b1", c1, 3, 1)))
  }

  test("centroid is the unweighted mean of merged POOL entries " +
    "(reference quirk process_records.py:396-400)") {
    val v1 = Array(1f, 0f, 0f, 0f)
    val v2 = Array(0.9f, 0.1f, 0f, 0f)
    val s1 = Clustering.step(emptyPool, vecBatch("a" -> v1, "b" -> v2),
      Clustering.Config(eps = 0.2))
    val centroid = s1.pool.select("centroid").as[Array[Float]].head()
    assert(centroid.toSeq == Seq(0.95f, 0.05f, 0f, 0f))
  }

  test("separate batches with no overlap stay separate; seq advances") {
    val s1 = Clustering.step(emptyPool, vecBatch("a" -> unit(1, 0, 0, 0)))
    val s2 = Clustering.step(s1.pool, vecBatch("b" -> unit(0, 1, 0, 0)))
    val pool = s2.pool.select("seq", "cluster_id").as[(Long, String)].collect().toMap
    assert(pool.keySet == Set(1L, 2L))
    assert(pool(1L) == Clustering.clusterIdFor("a"))
    assert(pool(2L) == Clustering.clusterIdFor("b"))
  }

  test("clusterIdCol (md5 built-ins) matches UUID.nameUUIDFromBytes for " +
    "every variant nibble, and the clustering hot path carries no UDF") {
    // 64 ids — enough draws that all 16 variant-nibble inputs occur w.h.p.
    val ids = (0 until 64).map(i => f"art-$i%04d")
    val idCol = ids.toDF("id")
      .select(col("id"), Clustering.clusterIdCol(col("id")).as("cid"))
    val got = idCol.as[(String, String)].collect().toMap
    ids.foreach { id => assert(got(id) == Clustering.clusterIdFor(id)) }
    // plan-level: the id expression is pure built-ins (codegen'd), no UDF
    val plan = idCol.queryExecution.analyzed.toString
    assert(!plan.contains("UDF"), s"UDF found in cluster-id plan:\n$plan")
  }

  test("poolStats counts clusters, singletons, and total articles") {
    val s1 = Clustering.step(emptyPool, vecBatch(
      "a" -> unit(1, 0, 0, 0), "b" -> unit(1, 0.02, 0, 0), "c" -> unit(0, 0, 1, 0)))
    val r = Clustering.poolStats(s1.pool).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 3L)))
  }

  test("LSH and band-join paths produce the same planted partition as exact") {
    val mk = (g: Int, i: Int) => {
      val v = Array.fill(8)(0.0)
      v(g) = 1.0
      v(7) = 0.01 * i
      (s"g${g}_$i", unit(v.toSeq: _*))
    }
    val members = for (g <- 0 until 3; i <- 0 until 4) yield mk(g, i)
    val batch = vecBatch(members: _*)
    val exactPool = poolRows(Clustering.step(emptyPool, batch).pool)
    val lshPool = poolRows(Clustering.step(emptyPool, batch,
      Clustering.Config(strategy = Clustering.LshJoin(8))).pool)
    val bandPool = poolRows(Clustering.step(emptyPool, batch,
      Clustering.Config(strategy = Clustering.BandJoin)).pool)
    assert(lshPool == exactPool)
    assert(bandPool == exactPool)
    assert(exactPool.map(_._2).size == 3)
  }

  test("planted clusters across batches match the single-linkage oracle") {
    // 3 groups of unit vectors on distinct axes with small in-group jitter,
    // fed over 3 batches; expected partition = the groups
    val groups = Seq(0, 1, 2)
    val members = for {
      g <- groups; i <- 0 until 6
    } yield {
      val jitter = 0.02 * i
      val v = Array.fill(4)(0.0)
      v(g) = 1.0
      v(3) = jitter
      (f"m$g%d_$i%d", g, i % 3, unit(v.toSeq: _*)) // batch = i%3
    }
    var pool = emptyPool
    for (b <- 0 until 3) {
      val batch = vecBatch(members.filter(_._3 == b).map(m => m._1 -> m._4): _*)
      pool = Clustering.step(pool, batch).pool
    }
    val got = poolRows(pool).map(_._2)
    val want = groups.map(g => members.filter(_._2 == g).map(_._1).sorted).toSet
    assert(got == want)
  }

  test("singletonTtl bounds pool state under churn; evicted singletons can't be " +
    "merged into; default keeps them forever (reference parity)") {
    // orthogonal axes => nothing ever merges; every entry is a singleton
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(16)(0.0); v(i) = 1.0; unit(v.toSeq: _*)
    }
    val ttlCfg = Clustering.Config(singletonTtl = Some(4L))

    // churn: 4 batches of 2 orthogonal singletons each
    var pool = emptyPool
    for (b <- 0 until 4) {
      pool = Clustering.step(pool,
        vecBatch(s"s${2 * b}" -> axis(2 * b % 8), s"s${2 * b + 1}" -> axis((2 * b + 1) % 8)),
        ttlCfg).pool
    }
    // seq high-water = 8, ttl 4 => only seq 5..8 (s4..s7) survive: state
    // is bounded by the ttl window, not the stream length
    val kept = pool.select(explode(col("article_ids"))).as[String].collect().toSet
    assert(kept == Set("s4", "s5", "s6", "s7"), s"got $kept")

    // an article identical to the EVICTED s0 (axis 0) forms a fresh
    // singleton under its own id — the retired entry is gone from state,
    // so nothing can merge into it
    val s5 = Clustering.step(pool, vecBatch("fresh" -> axis(0)), ttlCfg)
    val assign = s5.assignments
      .select("article_id", "cluster_id", "is_cluster")
      .as[(String, String, Boolean)].collect().toSeq
    assert(assign == Seq(("fresh", Clustering.clusterIdFor("fresh"), false)))
    assert(!s5.pool.select(explode(col("article_ids"))).as[String]
      .collect().contains("s0"))

    // clusters are NEVER evicted, however old: build a cluster first,
    // then age it far past the ttl with churn
    val near = unit(Seq(1.0, 0.05) ++ Seq.fill(14)(0.0): _*)
    var pool2 = Clustering.step(emptyPool,
      vecBatch("c1" -> axis(0), "c2" -> near), ttlCfg).pool
    for (b <- 0 until 4) {
      // distinct axes per batch — the churn must stay singleton-only
      pool2 = Clustering.step(pool2,
        vecBatch(s"x${2 * b}" -> axis(8 + 2 * b), s"x${2 * b + 1}" -> axis(9 + 2 * b)),
        ttlCfg).pool
    }
    val clusters = pool2.filter(col("is_cluster"))
      .select(explode(col("article_ids"))).as[String].collect().toSet
    assert(clusters == Set("c1", "c2"))

    // default (None): the same churn keeps every singleton — parity with
    // the reference's unbounded embeds dict
    var pool3 = emptyPool
    for (b <- 0 until 4) {
      pool3 = Clustering.step(pool3,
        vecBatch(s"s${2 * b}" -> axis(2 * b % 8), s"s${2 * b + 1}" -> axis((2 * b + 1) % 8))).pool
    }
    assert(pool3.count() == 8)
  }
}
