package graft

import graft.operators.Hits

/** Fixed-round exact-integer HITS: bit-identical agreement with a
  * sequential reference under any partitioning, mutual-reinforcement
  * sanity on a planted bipartite graph, and a plan that does not grow
  * with rounds (the release handle: [[OperatorReleaseSpec]]).
  */
class HitsSpec extends SparkSpec {
  import spark.implicits._

  private val Scale = 1000000000L

  /** Sequential reference with the operator's exact quantized-total
    * normalization. */
  private def reference(edges: Seq[(Long, Long)],
                        rounds: Int): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = raw.values.sum
      val q = math.max(tot / Scale, 1L)
      nodes.map(n => n -> raw.getOrElse(n, 0L) / q).toMap
    }
    var hub = nodes.map(_ -> Scale).toMap
    var auth = nodes.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      auth = norm(edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => hub(e._1)).sum
      })
      hub = norm(edges.groupBy(_._1).map { case (s, es) =>
        s -> es.map(e => auth(e._2)).sum
      })
    }
    nodes.map(n => n -> ((hub(n), auth(n)))).toMap
  }

  // bipartite: hub 1 links to 3 authorities, hub 2 to one of them;
  // authority 11 is doubly-cited (the mutual-reinforcement winner)
  private val g = Seq((1L, 10L), (1L, 11L), (1L, 12L), (2L, 11L))

  test("matches the sequential reference bit-for-bit, any partitioning") {
    for (rounds <- Seq(1, 2); parts <- Seq(1, 5)) {
      val exp = reference(g, rounds)
      val got = Hits.run(g.toDF("src", "dst").repartition(parts),
        "src", "dst", rounds)._1
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(got == exp, s"rounds=$rounds parts=$parts")
    }
  }

  test("mutual reinforcement: the doubly-cited authority dominates, and " +
    "the broad hub dominates") {
    val got = Hits.run(g.toDF("src", "dst"), "src", "dst", 2)._1
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(11L)._2 > got(10L)._2 && got(10L)._2 == got(12L)._2,
      s"authority order wrong: $got")
    assert(got(1L)._1 > got(2L)._1, s"hub order wrong: $got")
    assert(got(10L)._1 == 0L && got(1L)._2 == 0L,
      "pure authorities have no hub mass and vice versa")
  }

  test("plan size is O(1) in rounds (VERDICT r11 #3): the per-round " +
    "localCheckpoint keeps the final plan flat from rounds=2 to rounds=6, " +
    "and rounds=6 still matches the sequential reference") {
    def planNodes(rounds: Int): (Int, Map[Long, (Long, Long)]) = {
      val df = Hits.run(g.toDF("src", "dst"), "src", "dst", rounds)._1
      val n = df.queryExecution.executedPlan.collect { case p => p }.size
      (n, df.as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap)
    }
    val (n2, _) = planNodes(2)
    val (n6, got6) = planNodes(6)
    assert(n6 == n2,
      s"plan must not grow with rounds: rounds=2 -> $n2 nodes, rounds=6 -> $n6")
    assert(n6 < 60, s"final plan must be a bounded join of two score " +
      s"scans, got $n6 nodes")
    assert(got6 == reference(g, 6), "rounds=6 must still match the reference")
  }

}
