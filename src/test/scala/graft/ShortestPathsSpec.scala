package graft

import graft.operators.ShortestPaths

/** Bounded-round multi-source shortest paths: bit-identical agreement
  * with a sequential min-plus reference (weighted + multi-source),
  * k-edge horizon semantics, unreached-node absence and the
  * one-exchange-per-round plan (the release handle:
  * [[OperatorReleaseSpec]]).
  */
class ShortestPathsSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: synchronous Bellman-Ford over ≤ iters edges. */
  private def reference(edges: Seq[(Long, Long, Long)], sources: Seq[Long],
                        iters: Int): Map[Long, Long] = {
    var dist = sources.distinct.map(_ -> 0L).toMap
    for (_ <- 1 to iters) {
      val relaxed = edges.flatMap { case (s, d, w) =>
        dist.get(s).map(ds => d -> (ds + w))
      }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (n, ds) => n -> ds.map(_._2).min }
    }
    dist
  }

  // weighted diamond where the 2-edge path beats the 1-edge path
  // (1 -> 3 direct costs 10; 1 -> 2 -> 3 costs 2 + 3 = 5), plus a
  // second source 20 feeding a chain, plus an unreachable island 30
  private val g = Seq(
    (1L, 3L, 10L), (1L, 2L, 2L), (2L, 3L, 3L),
    (20L, 21L, 1L), (21L, 22L, 7L),
    (30L, 31L, 1L))
  private val sources = Seq(1L, 20L)

  test("matches the sequential min-plus reference, any partitioning") {
    for (iters <- Seq(1, 2, 3); parts <- Seq(1, 5)) {
      val exp = reference(g, sources, iters)
      val got = ShortestPaths.run(
        g.toDF("src", "dst", "w").repartition(parts), "src", "dst", "w",
        sources.toDF("node"), "node", iters)._1
        .as[(Long, Long)].collect().toMap
      assert(got == exp, s"iters=$iters parts=$parts")
    }
  }

  test("a longer-but-cheaper path wins once the round horizon admits it") {
    def d(iters: Int) = ShortestPaths.run(g.toDF("src", "dst", "w"),
      "src", "dst", "w", Seq(1L).toDF("node"), "node", iters)._1
      .as[(Long, Long)].collect().toMap
    assert(d(1)(3L) == 10L, "1 round: only the direct edge is in horizon")
    assert(d(2)(3L) == 5L, "2 rounds: the 2-edge path 1->2->3 wins")
  }

  test("unreachable nodes are absent; island components never appear") {
    val got = ShortestPaths.run(g.toDF("src", "dst", "w"), "src", "dst",
      "w", sources.toDF("node"), "node", 5)._1
      .as[(Long, Long)].collect().toMap
    assert(!got.contains(30L) && !got.contains(31L))
    assert(got == Map(1L -> 0L, 2L -> 2L, 3L -> 5L,
      20L -> 0L, 21L -> 1L, 22L -> 8L))
  }

  test("plan: exactly one shuffle per round plus constant setup") {
    val edges = g.toDF("src", "dst", "w")
    def shuffles(iters: Int): Int = {
      val root = ShortestPaths.run(edges, "src", "dst", "w",
        sources.toDF("node"), "node", iters)._1
        .queryExecution.executedPlan
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
    assert(e3 - e1 == 2,
      s"each extra round must add exactly ONE exchange (got $e1 -> $e3)")
  }
}
