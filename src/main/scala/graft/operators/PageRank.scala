package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Iterative PageRank (Page et al. 1999) in EXACT integer arithmetic.
  *
  * The engine-capability point is the ITERATIVE JOIN shape — the one
  * dataflow pattern (rank propagation, label propagation, belief
  * propagation) that a declarative catalog can't express in a single
  * plan and every graph/feature pipeline needs. The arithmetic point
  * is portability: classic PageRank sums doubles whose totals depend
  * on reduction order, so no external oracle can replay it exactly.
  * Here ranks are int64 fixed-point (initial rank = `scale`), each
  * edge contribution is the integer floor
  * `(rank·85) div (100·outdeg)` and the teleport term is
  * `(15·scale) div 100` — every operation is exact, so any engine
  * (the DuckDB oracle chains one CTE per iteration) reproduces the
  * ranks bit-for-bit, in any execution order.
  *
  * Scale design (the 100 TB iteration discipline):
  * - The edge list joins into EVERY iteration, so it is repartitioned
  *   on `src` ONCE and persisted: the per-iteration join on
  *   `src = node` then needs no edge-side exchange (InMemoryRelation
  *   keeps the hash partitioning), and the rank side arrives already
  *   partitioned on `node` from the previous iteration's groupBy.
  * - Each iteration therefore costs exactly ONE exchange — the
  *   groupBy(dst) that aggregates contributions, which is PageRank's
  *   irreducible communication. Nothing else shuffles.
  * - Plan/lineage depth grows linearly with iterations; for the deep
  *   runs (tens of iterations) a deployment localCheckpoints the rank
  *   frame every ~5 iterations to truncate lineage. At the catalog's
  *   fixed 3 iterations the plan stays shallow by construction.
  *
  * Overflow bound: rank mass is conserved up to floor losses, so any
  * single rank < N·scale; the caller must pick `scale` with
  * N·scale·85 < 2^63 (N = node count). The catalog uses scale = 10^12
  * with N ≤ ~10^5 parts → 8.5×10^18·10^-1, two orders inside the
  * bound; a 10^9-node deployment drops scale to 10^8.
  *
  * Expects a DIRECTED edge list; an undirected graph passes both
  * directions. Dangling nodes (outdeg 0) contribute nothing (their
  * mass evaporates — the "simple" PageRank variant). Every node that
  * appears in ANY edge stays in the rank frame for the whole run: the
  * cached node set feeds a zero-contribution row per node into each
  * iteration's aggregate, so a node with no in-edges holds the
  * teleport base rank (and keeps contributing its out-edge mass)
  * WITHOUT a per-iteration keep-alive join — dropping it after one
  * iteration would silently zero its downstream contributions.
  */
object PageRank {

  /** @param edges DataFrame with long columns `srcCol`, `dstCol`
    * @return (node, pr_rank) after `iters` exact integer iterations, and
    *         a handle whose `close()` unpersists the two caches the run
    *         pins: the degree-annotated edge list and the node set. Both
    *         stay referenced by the returned plan (the node set feeds
    *         the zero-contribution union in EVERY iteration, so freeing
    *         it early would recompute its distinct per iteration), so
    *         close after materializing the result; later actions still
    *         compute correctly but re-derive both subtrees.
    */
  def run(edges: DataFrame, srcCol: String, dstCol: String,
          iters: Int, scale: Long): (DataFrame, AutoCloseable) = {
    require(iters >= 1, s"need iters >= 1, got $iters")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // one edge-side shuffle for the whole run: partition by the join
    // key and pin it in the cache
    val edgeDeg = e.join(deg, "src")
      .repartition(col("src"))
      .persist()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct()
      .persist()
    // materialize the iteration-invariant caches BEFORE the iterative
    // plan is built: an unmaterialized cache under AQE reports unknown
    // output partitioning (its AdaptiveSparkPlan isn't final yet), so
    // EnsureRequirements would insert a defensive exchange at every
    // sort-merge join against it; once materialized (and with
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning at its
    // false default keeping the cache's partitioning stable) the
    // hash(src) layout is visible and the per-iteration join is
    // exchange-free on the edge side
    edgeDeg.count()
    nodes.count()
    val base = (15L * scale) / 100L
    val zeros = nodes.select(col("node").as("dst"), lit(0L).as("contrib"))
    var ranks = nodes.withColumn("rank", lit(scale))
    for (_ <- 1 to iters) {
      ranks = edgeDeg
        .join(ranks, col("src") === col("node"))
        .select(col("dst"),
          expr("(rank * 85L) div (100L * outdeg)").as("contrib"))
        .union(zeros)
        .groupBy(col("dst"))
        .agg((lit(base) + sum(col("contrib"))).as("rank"))
        .withColumnRenamed("dst", "node")
    }
    // both caches stay registered until the caller closes the handle:
    // edgeDeg backs every iteration's join, nodes every iteration's
    // zero-contribution union
    (ranks, () => { edgeDeg.unpersist(); nodes.unpersist() })
  }
}
