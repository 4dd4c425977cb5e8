package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-round multi-source shortest paths: synchronous Bellman-Ford
  * (min-plus propagation) from a seeded source set over non-negative
  * integer edge weights.
  *
  * After `rounds` rounds each reached node holds the exact shortest
  * distance among paths of at most `rounds` edges from the nearest
  * source (weight-1 edges make this k-hop BFS distance); unreached
  * nodes are absent from the output. All-integer min-plus, so the
  * result is deterministic under any partitioning and the DuckDB
  * oracle unrolls one CTE per round and matches bit-for-bit.
  *
  * This is the third propagation dataflow next to [[PageRank]] (sum
  * propagation) and [[LabelProp]] (min-label propagation), and shares
  * their scale discipline:
  * - "min(own distance, in-neighbor distance + weight)" folds into a
  *   SINGLE reference to the previous round's frontier by augmenting
  *   the edge list with one weight-0 self-loop per node — a join plus
  *   a separate keep-alive union would reference the un-cached
  *   previous round twice and double the plan per round (exponential
  *   in the round count; pinned by the plan spec);
  * - the augmented edge list feeds every round, so it is repartitioned
  *   on `src` ONCE, persisted, and MATERIALIZED before the iterative
  *   plan is built (an unmaterialized cache under AQE reports unknown
  *   partitioning and buys a defensive exchange per join);
  * - each round costs exactly ONE exchange — the groupBy(dst) min,
  *   the propagation's irreducible communication;
  * - frontier rows are two longs; work per round is |edges touching
  *   the reached set|, never |nodes|² — at 100 TB the frontier join is
  *   a plain hash-partitioned equi-join that AQE can size.
  *
  * Expects a DIRECTED edge list (pass both directions for undirected
  * graphs) with non-negative long weights.
  */
object ShortestPaths {

  /** @param edges   DataFrame with columns `srcCol`, `dstCol` (long)
    *                and `weightCol` (non-negative long)
    * @param sources DataFrame whose `sourceCol` lists seed nodes
    *                (distance 0); duplicates are deduped
    * @return (node, dist) for every node reachable within `rounds`
    *         edges, and a handle whose `close()` unpersists the pinned
    *         edge cache; close after materializing the result (later
    *         actions still compute correctly but re-derive the edge list)
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          weightCol: String, sources: DataFrame, sourceCol: String,
          rounds: Int): (DataFrame, AutoCloseable) = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    val raw = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"),
      col(weightCol).cast("long").as("w"))
    val nodes = raw.select(col("src").as("node"))
      .union(raw.select(col("dst").as("node")))
      .distinct()
    // weight-0 self-loops carry each node's own distance into the next
    // round's min without a second frontier reference
    val e = raw
      .union(nodes.select(col("node").as("src"), col("node").as("dst"),
        lit(0L).as("w")))
      .repartition(col("src"))
      .persist()
    e.count()
    var dist = sources.select(col(sourceCol).cast("long").as("node"))
      .distinct()
      .select(col("node"), lit(0L).as("dist"))
    for (_ <- 1 to rounds) {
      dist = e
        .join(dist, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(min(col("dist") + col("w")).as("dist"))
        .withColumnRenamed("dst", "node")
    }
    (dist, () => e.unpersist())
  }
}
