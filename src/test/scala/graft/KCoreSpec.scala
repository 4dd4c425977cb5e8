package graft

import graft.operators.KCore

/** Fixed-round k-core peeling: agreement with a sequential reference,
  * cascade semantics (a chain hanging off a clique peels one link per
  * round), and fixpoint stability.
  */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  /** Sequential reference: R synchronized peels at threshold k. */
  private def reference(edges: Seq[(Long, Long)], k: Int,
                        rounds: Int): Map[Long, Long] = {
    var e = edges
    var deg = Map.empty[Long, Long]
    for (_ <- 1 to rounds) {
      deg = e.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
      val kept = deg.filter(_._2 >= k).keySet
      e = e.filter { case (s, d) => kept(s) && kept(d) }
    }
    deg.filter(_._2 >= k)
  }

  private def undirected(pairs: (Long, Long)*): Seq[(Long, Long)] =
    pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }

  // 4-clique {1,2,3,4} with a pendant chain 4-5-6: at k=2 the chain
  // peels from the tail one round at a time (6 has deg 1 → gone round
  // 1; then 5 drops to deg 1 → gone round 2), the clique never drops
  private val g = undirected((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L),
    (2L, 4L), (3L, 4L), (4L, 5L), (5L, 6L))

  test("matches the sequential reference at every round count, any partitioning") {
    for (rounds <- Seq(1, 2, 3); parts <- Seq(1, 5)) {
      val exp = reference(g, k = 2, rounds)
      val (core, handle) = KCore.peel(g.toDF("src", "dst").repartition(parts),
        "src", "dst", k = 2, rounds = rounds)
      val got = try core.as[(Long, Long)].collect().toMap finally handle.close()
      assert(got == exp, s"rounds=$rounds parts=$parts")
    }
  }

  test("pendant chain peels one link per round; the clique is the fixpoint") {
    def nodes(rounds: Int): Set[Long] = {
      val (core, handle) = KCore.peel(g.toDF("src", "dst"), "src", "dst", k = 2, rounds = rounds)
      try core.as[(Long, Long)].collect().map(_._1).toSet finally handle.close()
    }
    assert(nodes(1) == Set(1L, 2L, 3L, 4L, 5L), "round 1 sheds only the tail")
    assert(nodes(2) == Set(1L, 2L, 3L, 4L), "round 2 sheds the exposed link")
    assert(nodes(3) == Set(1L, 2L, 3L, 4L), "the 4-clique is 2-core-stable")
  }

  test("degrees reported are over the surviving edge set, not the input") {
    // after round 2 node 4 has lost its pendant edge: degree 3, not 4
    val (core, handle) = KCore.peel(g.toDF("src", "dst"), "src", "dst", k = 2, rounds = 3)
    val got = try core.as[(Long, Long)].collect().toMap finally handle.close()
    assert(got(4L) == 3L)
    assert(got(1L) == 3L)
  }
}
