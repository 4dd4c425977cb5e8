package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous min-label propagation ("HashMin", Kang et al.'s PEGASUS
  * formulation) for a FIXED number of rounds.
  *
  * Each round every node takes the minimum of its own label and its
  * in-neighbors' labels from the PREVIOUS round — after k rounds a
  * node's label is the smallest node id within k hops, so fixed-round
  * output is deterministic and portable (pure integer min — no
  * float, no reduction-order hazard; the DuckDB oracle unrolls one
  * CTE per round and matches bit-for-bit). Run to convergence this is
  * connected components; the catalog's distributed CC
  * ([[ConnectedComponents]]) uses alternating large/small-star moves
  * instead — this operator is the bounded-round propagation primitive
  * (community seeds, k-hop reachability, iterative labeling) that
  * shares PageRank's dataflow, not CC's.
  *
  * Scale design (same discipline as [[PageRank]]):
  * - the "min of own and in-neighbor labels" update is expressed by
  *   AUGMENTING the edge list with one self-loop per node, so the
  *   label frame is referenced exactly ONCE per round (the join) — a
  *   join + a separate self-union would reference the previous
  *   round's frame twice and duplicate its whole un-cached lineage
  *   per reference, i.e. exponential plan growth in the round count
  *   (caught by this operator's plan spec);
  * - the augmented edge list feeds every round, so it is repartitioned
  *   on `src` ONCE, persisted, and MATERIALIZED before the iterative
  *   plan is built (an unmaterialized cache under AQE reports unknown
  *   partitioning and buys a defensive exchange per join);
  * - each round costs exactly ONE exchange — the groupBy(dst) min,
  *   the propagation's irreducible communication; the label side
  *   arrives partitioned on `node` from the previous round's groupBy;
  * - label rows are two longs regardless of graph size; rounds only
  *   deepen the plan linearly (deep runs would localCheckpoint every
  *   ~5 rounds — at the catalog's 3 the plan stays shallow).
  *
  * Expects a DIRECTED edge list; an undirected graph passes both
  * directions. Nodes with no in-edges keep their own label via the
  * self-loop (no keep-alive join).
  */
object LabelProp {

  /** @param edges DataFrame with long columns `srcCol`, `dstCol`
    * @return (node, label) after `iters` synchronous min rounds, and a
    *         handle whose `close()` unpersists the pinned edge cache;
    *         close after materializing the result (later actions still
    *         compute correctly but re-derive the edge list)
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int): (DataFrame, AutoCloseable) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    val nodes = raw.select(col("src").as("node"))
      .union(raw.select(col("dst").as("node")))
      .distinct()
    // self-loops fold "min(own, …)" into the single aggregate and keep
    // isolated / no-in-edge nodes alive without a second label reference
    val e = raw
      .union(nodes.select(col("node").as("src"), col("node").as("dst")))
      .repartition(col("src"))
      .persist()
    e.count()
    var labels = e.filter(col("src") === col("dst"))
      .select(col("src").as("node"), col("src").as("label"))
    for (_ <- 1 to iters) {
      labels = e
        .join(labels, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(min(col("label")).as("label"))
        .withColumnRenamed("dst", "node")
    }
    (labels, () => e.unpersist())
  }
}
