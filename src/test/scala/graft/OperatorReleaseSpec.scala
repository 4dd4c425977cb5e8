package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit

import graft.operators._

/** The release contract of every operator that pins state: its entry
  * point returns `(result, handle)`, something is persisted once it
  * returns, `close()` puts the persisted RDD set back to what it was
  * before the call, and the result still collects the same rows. Hits
  * keeps its final round's two checkpoints: they back the result.
  */
class OperatorReleaseSpec extends SparkSpec {
  import spark.implicits._

  private def graph = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 4L), (6L, 7L)).flatMap { case (a, b) => Seq((a, b), (b, a)) }.toDF("src", "dst")

  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa extra"),
    (3L, "one two three four five six seven eight nine ten"),
    (4L, "one two three four five six seven eight nine ten eleven"))
    .toDF("doc_id", "text")

  /** (operator, call, persisted RDDs the handle leaves behind). */
  private val rows: Seq[(String, () => (DataFrame, AutoCloseable), Int)] = Seq(
    ("PageRank.run", () => PageRank.run(graph, "src", "dst", 2, 1000000L), 0),
    ("LabelProp.run", () => LabelProp.run(graph, "src", "dst", 2), 0),
    ("ShortestPaths.run", () => ShortestPaths.run(
      graph.withColumn("w", lit(1L)), "src", "dst", "w",
      Seq(1L).toDF("node"), "node", 2), 0),
    ("Hits.run", () => Hits.run(graph, "src", "dst", 2), 2),
    ("KCore.peel", () => KCore.peel(graph, "src", "dst", k = 2, rounds = 2), 0),
    ("JaccardJoin.selfPairs", () => JaccardJoin.selfPairs(corpus, "doc_id", "text", t = 0.5), 0),
    ("MinHashJoin.selfPairs", () => MinHashJoin.selfPairs(corpus, "doc_id", "text"), 0),
    ("MinHashJoin.selfPairsEstimated",
      () => MinHashJoin.selfPairsEstimated(corpus, "doc_id", "text"), 0))

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq

  for ((name, call, kept) <- rows)
    test(s"$name: close() unpins, result unchanged") {
      SparkHygiene.dropAllPersisted(spark)
      val before = persisted
      try {
        val (df, handle) = call()
        assert((persisted -- before).nonEmpty, s"$name pinned nothing")
        val got = sorted(df)
        assert(got.nonEmpty, s"$name: vacuous fixture")
        handle.close()
        val left = persisted -- before
        assert(before.subsetOf(persisted))
        assert(left.size == kept, s"$name left ${left.size} persisted RDDs, expected $kept")
        assert(left.forall(id => spark.sparkContext.getPersistentRDDs(id).isCheckpointed),
          s"$name: what stays pinned must be result checkpoints")
        assert(sorted(df) == got, s"$name: result changed after close()")
      } finally SparkHygiene.dropAllPersisted(spark)
    }
}
