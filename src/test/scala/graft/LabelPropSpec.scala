package graft

import graft.operators.LabelProp

/** Bounded-round min-label propagation: bit-identical agreement with a
  * sequential reference, k-hop semantics, release handle hygiene, and
  * the one-exchange-per-round plan.
  */
class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: synchronous min over (own ∪ in-neighbors). */
  private def reference(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var label = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      label = nodes.map { n =>
        val in = edges.collect { case (s, d) if d == n => label(s) }
        n -> (in :+ label(n)).min
      }.toMap
    }
    label
  }

  // two components: a directed path 5->4->3->2->1 (labels need one hop
  // per round to travel) and an isolated self-contained pair 10<->11
  private val g = Seq((5L, 4L), (4L, 3L), (3L, 2L), (2L, 1L),
    (10L, 11L), (11L, 10L))

  test("matches the sequential reference bit-for-bit, any partitioning") {
    for (iters <- Seq(1, 3); parts <- Seq(1, 7)) {
      val exp = reference(g, iters)
      val got = LabelProp.run(g.toDF("src", "dst").repartition(parts),
        "src", "dst", iters)._1.as[(Long, Long)].collect().toMap
      assert(got == exp, s"iters=$iters parts=$parts")
    }
  }

  test("after k rounds a label travels exactly k hops (not further)") {
    // on the path 5->4->3->2->1, label flows in the EDGE direction:
    // after 2 rounds node 3 holds min within 2 upstream hops = 3 is
    // fed by 4 (own min also counts) — the path's ids decrease
    // downstream, so upstream mins never lower a downstream node;
    // flip a decreasing chain to test propagation: 1->2->3->4->5
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val after2 = LabelProp.run(chain.toDF("src", "dst"), "src", "dst", 2)._1
      .as[(Long, Long)].collect().toMap
    assert(after2(3L) == 1L, "2 hops reached")
    assert(after2(4L) == 2L, "3 hops NOT reached after 2 rounds")
    assert(after2(5L) == 3L)
    val after4 = LabelProp.run(chain.toDF("src", "dst"), "src", "dst", 4)._1
      .as[(Long, Long)].collect().toMap
    assert(after4 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L),
      "4 rounds converge the 5-chain (connected components)")
  }

  test("plan: exactly one shuffle per round plus constant setup") {
    val edges = g.toDF("src", "dst")
    def shuffles(iters: Int): Int = {
      val root = LabelProp.run(edges, "src", "dst", iters)._1
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
