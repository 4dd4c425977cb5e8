package graft

import graft.operators.MinHashJoin

class MinHashJoinSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
    (3L, "one two three four five six seven eight nine ten"))
    .toDF("doc_id", "text")

  test("banded candidates surface planted near-dups, not dissimilar docs") {
    val pairs = MinHashJoin.selfPairs(corpus, "doc_id", "text")._1
      .as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
  }

  test("identical docs collide in every band (pair emitted exactly once)") {
    val dup = Seq((1L, "same words here"), (2L, "same words here"))
      .toDF("doc_id", "text")
    val rows = MinHashJoin.selfPairs(dup, "doc_id", "text")._1
      .as[(Long, Long)].collect()
    // the first-agreeing-band predicate collapses the 4 band hits
    // map-side — no distinct() exchange exists in the plan (PlanSpec)
    assert(rows.toSeq == Seq((1L, 2L)))
  }

  test("hashes must split evenly into bands") {
    intercept[IllegalArgumentException] {
      MinHashJoin.selfPairs(corpus, "doc_id", "text", hashes = 12, bands = 5)._1
    }
  }

  test("estimated Jaccard: 1.0 for identical docs, in [0,1] and equal " +
    "to the signatures' own agreement for near-dups") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"))
      .toDF("doc_id", "text")
    val est = MinHashJoin.selfPairsEstimated(docs, "doc_id", "text")._1
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(est((1L, 2L)) == 1.0, "identical docs must estimate exactly 1.0")
    // the near-dup pair surfaced and its estimate is a valid k/12 ratio
    for (p <- Seq((1L, 3L), (2L, 3L)); e = est(p)) {
      assert(e > 0.0 && e <= 1.0)
      assert(math.abs((e * 12).round.toDouble / 12 - e) < 1e-4,
        s"estimate $e is not an agreement count / 12")
    }
    // symmetry of the underlying signatures: doc 1 and 2 are identical,
    // so their estimates against doc 3 must agree exactly
    assert(est((1L, 3L)) == est((2L, 3L)))
  }
}
