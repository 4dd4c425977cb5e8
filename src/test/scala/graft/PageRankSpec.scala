package graft

import org.apache.spark.sql.functions._

import graft.operators.PageRank

/** Exact-integer PageRank: bit-identical agreement with a sequential
  * reference implementation, partitioning independence, mass
  * conservation bounds, and the one-exchange-per-iteration plan.
  */
class PageRankSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: same integer formula, scala.Map state. */
  private def reference(edges: Seq[(Long, Long)], iters: Int,
                        scale: Long): Map[Long, Long] = {
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val base = 15L * scale / 100L
    var rank = nodes.map(_ -> scale).toMap
    for (_ <- 1 to iters) {
      val contribs = edges.groupBy(_._2).map { case (dst, es) =>
        dst -> es.map { case (src, _) =>
          rank(src) * 85L / (100L * outdeg(src))
        }.sum
      }
      rank = nodes.map(n => n -> (base + contribs.getOrElse(n, 0L))).toMap
    }
    rank
  }

  // a small asymmetric digraph where every node has an out-edge:
  // 1 -> 2,3 ; 2 -> 3 ; 3 -> 1 ; 4 -> 3 (4 has no in-edges)
  private val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))

  test("matches the sequential reference bit-for-bit, any partitioning") {
    val exp = reference(g, iters = 4, scale = 1000000000000L)
    for (parts <- Seq(1, 7)) {
      val edges = g.toDF("src", "dst").repartition(parts)
      val got = PageRank.run(edges, "src", "dst", 4, 1000000000000L)._1
        .as[(Long, Long)].collect().toMap
      // node 4 receives no edges but stays alive at the teleport base
      // rank (and keeps feeding node 3 every iteration)
      assert(got.keySet == Set(1L, 2L, 3L, 4L))
      got.foreach { case (n, r) => assert(r == exp(n), s"node $n") }
    }
  }

  test("rank mass is conserved up to floor loss on a closed graph") {
    // symmetric triangle: no dangling mass, so total rank stays within
    // iters * (nodes + edges) floor-loss of N * scale
    val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 1L), (1L, 3L))
    val scale = 1000000L
    val ranks = PageRank.run(tri.toDF("src", "dst"), "src", "dst", 5, scale)._1
      .as[(Long, Long)].collect()
    val total = ranks.map(_._2).sum
    assert(ranks.length == 3)
    assert(total <= 3 * scale)
    assert(total > 3 * scale - 5 * (3 + 6) * 100,
      s"floor loss too large: $total vs ${3 * scale}")
  }

  test("uniform regular graph stays uniform (fixed point)") {
    // 4-cycle both directions: outdeg 2 everywhere, perfectly regular,
    // so rank = base + 2 * (rank * 85 div (100 * 2)) reaches its fixed
    // point and every node carries the identical value
    val cyc = (0 until 4).flatMap { i =>
      val j = (i + 1) % 4
      Seq((i.toLong, j.toLong), (j.toLong, i.toLong))
    }
    val ranks = PageRank.run(cyc.toDF("src", "dst"), "src", "dst", 8, 1000000000L)._1
      .as[(Long, Long)].collect()
    assert(ranks.length == 4)
    assert(ranks.map(_._2).distinct.length == 1, "regular graph must be uniform")
  }

  test("plan: exactly one shuffle per iteration plus constant setup") {
    val edges = g.toDF("src", "dst")
    def shuffles(iters: Int): Int = {
      val root = PageRank.run(edges, "src", "dst", iters, 1000000L)._1
        .queryExecution.executedPlan
      // unwrap AQE (its wrapper exposes no children to collect), then
      // walk the LIVE tree only: a string count would also see the
      // cached setup plans reprinted inside every InMemoryRelation
      val plan = root match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case p => p
      }
      plan.collect {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => ()
      }.length
    }
    val e1 = shuffles(1)
    val e3 = shuffles(3)
    assert(e3 - e1 == 2, s"each extra iteration must add ONE shuffle " +
      s"(the contribution groupBy) — iter1=$e1, iter3=$e3")
  }
}
