package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-round k-core peeling (Seidman 1983; the distributed peeling
  * round of Montresor et al.): each round computes node degrees over
  * the surviving edge set, keeps nodes with degree ≥ k, and restricts
  * edges to those with BOTH endpoints kept. Run to fixpoint this is
  * the k-core; the fixed-round form is the bounded-cost prefix (after
  * R rounds a node is kept iff it survives R peels — deterministic,
  * pure integer counting, so the DuckDB oracle unrolls the rounds and
  * matches exactly). The third iterative-graph dataflow next to
  * [[PageRank]] (value propagation) and [[LabelProp]] (label
  * propagation): a monotonically SHRINKING edge set, the shape degree
  * -thresholded community mining and graph-cleaning pipelines run.
  *
  * Scale design: each round is one degree aggregate (exchange on src)
  * plus two semi joins restricting edges to kept endpoints (the dst
  * side pays the round's second exchange — peeling inspects both
  * endpoints, that cost is irreducible). Unlike PageRank/LabelProp,
  * the per-round frame is referenced TWICE (degrees read it, the
  * restriction joins it), so each round's survivor edge set is
  * persisted and materialized before the next round plans on it —
  * without that the previous round's un-cached lineage would be
  * duplicated per reference (2^R plan growth; the LabelProp spec
  * caught the same trap). Superseded round caches are released as
  * soon as the next round materializes; edge rows only shrink.
  *
  * Expects a SYMMETRIZED edge list (both directions present, no
  * self-loops); degree = out-degree = in-degree then.
  */
object KCore {

  /** @return (node, deg) of nodes surviving `rounds` peels at
    * threshold `k`, with their degree over the edges alive at the
    * final check, and a handle whose `close()` unpersists the last
    * round's pinned edge set. The result still reads that edge set, so
    * close after materializing it; later actions still compute
    * correctly but re-derive the rounds.
    */
  def peel(edges: DataFrame, srcCol: String, dstCol: String,
           k: Int, rounds: Int): (DataFrame, AutoCloseable) = {
    require(k >= 1, s"need k >= 1, got $k")
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    var active = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
    var pinned: Option[DataFrame] = None
    var keep: DataFrame = null
    for (r <- 1 to rounds) {
      val deg = active.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      keep = deg.filter(col("deg") >= k)
      if (r < rounds) {
        val next = active
          .join(keep.select(col("src")), Seq("src"), "left_semi")
          .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
          .persist()
        next.count()
        pinned.foreach(_.unpersist())
        pinned = Some(next)
        active = next
      }
    }
    val out = keep.select(col("src").as("node"), col("deg"))
    (out, () => pinned.foreach(_.unpersist()))
  }
}
