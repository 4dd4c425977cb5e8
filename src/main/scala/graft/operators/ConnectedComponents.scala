package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Connected components over an undirected edge set, as iterative
  * min-label propagation on DataFrames.
  *
  * This is the DBSCAN(min_samples=2) core of the clusterer (SURVEY ST2):
  * with min_samples=2 a point is core iff it has ≥1 ε-neighbor, so the
  * cluster partition is exactly the connected components of the ε-graph
  * (reference behavior of `DBSCAN(eps=0.10, min_samples=2,
  * metric="precomputed")`, `process_records.py:308,358`).
  *
  * Algorithm: every node starts labeled with its own id; each round a
  * node takes the min label among itself and its neighbors; stop when no
  * label changes. Rounds = graph diameter — ε-cluster graphs are
  * near-cliques (diameter ≤ a few hops), so this converges in 2-4 rounds.
  * Each round is one shuffle on `node`; intermediate results are
  * localCheckpoint'ed to truncate lineage (plan growth, not data growth,
  * is the failure mode of DataFrame loops at scale).
  */
object ConnectedComponents {

  /** Size gate for the local union-find fast path: graphs at or below
    * this many nodes AND edges are solved driver-side in one bounded
    * collect instead of ~4 scheduled jobs per propagation round. The
    * probe is a single tag-unioned `limit(gate+1)` collect over both
    * sides — bounded memory (~32 MB of longs at the gate) even when the
    * graph is huge — and anything larger falls back to the distributed
    * propagation below.
    */
  val LocalGate = 1 << 20

  /** @param nodes single-column DataFrame `node: long`
    * @param edges  two-column DataFrame `src: long, dst: long`
    *               (undirected; both or one direction accepted)
    * @param localGate union-find fast-path threshold; 0 forces the
    *               distributed path (tests use this)
    * @return `node: long, component: long` — component = min node id
    */
  def run(nodes: DataFrame, edges: DataFrame, maxIter: Int = 25,
          localGate: Int = LocalGate): DataFrame = {
    val spark = nodes.sparkSession

    if (localGate > 0) {
      // ONE bounded-collect probe for both sides (VERDICT r10 #3 — the
      // sequential node-then-edge probes were two driver actions per
      // micro-batch): tag-union the two limited scans and collect once.
      // Memory stays bounded at 2·(gate+1) rows of longs (~32 MB at the
      // default gate) even when the graph is huge; anything over the
      // gate on EITHER side falls through to distributed propagation.
      // (The earlier count-gate-then-collect alternative measured WORSE
      // — 4 actions/batch, each paying its own stage jobs.)
      val probe = nodes
        .select(col("node").as("a"), lit(0L).as("b"), lit(0).as("t"))
        .limit(localGate + 1)
        .unionAll(edges
          .select(col("src").as("a"), col("dst").as("b"), lit(1).as("t"))
          .limit(localGate + 1))
        .collect()
      val (nodeProbe, edgeProbe) = probe.partition(_.getInt(2) == 0)
      if (nodeProbe.length <= localGate && edgeProbe.length <= localGate) {
        val ns = nodeProbe.map(_.getLong(0))
        val es = edgeProbe.map(r => (r.getLong(0), r.getLong(1)))
        return localUnionFind(spark, ns, es)
      }
    }

    // symmetrize once; self-loops dropped. No distinct(): duplicate
    // edges cannot change a min-aggregate, and the dedup shuffle costs
    // more than the duplicates do.
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var labels = nodes.select(col("node"), col("node").as("component"))
      .localCheckpoint(eager = true)
    // the checkpoint each `labels` view rides on — freed as soon as the
    // next round's checkpoint supersedes it (the ContextCleaner would
    // otherwise hold every round's labels until a driver GC)
    var labelsCk = labels

    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      // candidate label for each node = min over neighbors' labels.
      // labels is structurally small (the touched set, batch-bounded) —
      // explicit broadcast keeps the join map-side even when the
      // checkpointed frame carries no stats for AQE to size.
      val viaNeighbors = sym
        .join(broadcast(labels.withColumnRenamed("node", "dst")), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("component")).as("nbrMin"))

      // eager checkpoint per round: fully materializes the iteration
      // (a lazily-cached label set would be only partially computed by
      // the limit(1) convergence probe and recomputed downstream) and
      // truncates the loop's plan growth. The OLD label rides along so
      // the convergence probe is a narrow filter over the checkpointed
      // partitions — no extra join/shuffle per round.
      val next = labels.join(broadcast(viaNeighbors), Seq("node"), "left_outer")
        .select(
          col("node"),
          least(col("component"), coalesce(col("nbrMin"), col("component")))
            .as("component"),
          col("component").as("old"))
        .localCheckpoint(eager = true)

      val changed = next.filter(col("component") =!= col("old"))
        .limit(1).count()

      labels = next.select(col("node"), col("component"))
      graft.SparkHygiene.freeCheckpoint(labelsCk)
      labelsCk = next
      converged = changed == 0
      iter += 1
    }
    sym.unpersist()
    // propagation needs `diameter` rounds; returning unconverged labels
    // would be a silently-wrong partition (components split in two), so
    // fail loudly instead — callers with genuinely deep graphs raise
    // maxIter explicitly.
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter; raise maxIter for deep chain graphs")
    labels
  }

  /** Min-id roots of the undirected graph `edges`, by path-compressed
    * union-find: every node that appears in an edge, mapped to the
    * smallest node id connected to it — the labels the propagation
    * above converges to. O(m·α) on the driver or inside one task.
    */
  def roots(edges: Iterator[(Long, Long)]): scala.collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent.getOrElse(c, c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      // min id wins the root, matching the propagation semantics
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // compress every path, so each node maps to its root directly
    parent.keys.toArray.foreach(find)
    parent
  }

  /** The local fast path: [[roots]] over the collected edges, returned
    * as a LOCAL relation, not a parallelized RDD (optimization r15,
    * guide §1.2): the rows already live on the driver. A LocalRelation
    * also carries real size stats, where a LogicalRDD pessimistically
    * defaults to "huge"; a `broadcast` of it is still one scheduled job
    * on Spark 4.1.2.
    */
  private def localUnionFind(spark: SparkSession, nodes: Array[Long],
                             edges: Array[(Long, Long)]): DataFrame = {
    val root = roots(edges.iterator)
    val rows: java.util.List[org.apache.spark.sql.Row] =
      java.util.Arrays.asList(
        nodes.map(n => org.apache.spark.sql.Row(n, root.getOrElse(n, n))): _*)
    spark.createDataFrame(rows,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node", org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component", org.apache.spark.sql.types.LongType, nullable = false))))
  }
}
