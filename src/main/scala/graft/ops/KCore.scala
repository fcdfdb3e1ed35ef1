package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core extraction — the maximal subgraph in which every vertex keeps
  * degree ≥ k (Seidman 1983), the standard graph-curation screen: a
  * vertex surviving the 3-core participates in a dense region no chain
  * of low-degree hangers-on can fake. Complements the L23/L32/graph
  * family (components, PageRank, triangles).
  *
  * Algorithm: iterative peeling to a fixpoint on the [[Fixpoint]]
  * driver — drop every vertex whose CURRENT degree is below k, remove
  * its edges, recompute. Each round is one map-side-combinable degree
  * agg plus two outer-join lookups into the sub-k vertex set that mark
  * the edges to drop. That set is UNHINTED deliberately: in round one it
  * can be most of the graph (billions of IDs at 100 TB — a forced
  * broadcast would OOM the driver), while near the fixpoint it is tiny —
  * exactly the size flip AQE's runtime join selection handles. Round
  * count is bounded by the peeling depth (≤ the degeneracy ordering
  * length; in practice a handful).
  *
  * Input edges are treated as UNDIRECTED and must not contain
  * self-loops; duplicates are collapsed so degree = distinct neighbors.
  */
object KCore {

  /** Vertices of the k-core of `edges` (columns `src`, `dst`), as a
    * single-column `vertex` frame. */
  def kcore(edges: DataFrame, k: Int): DataFrame =
    peel(edges, k).state.select(col("src").as("vertex")).distinct().orderBy("vertex")

  /** The peeling fixpoint itself: state (src, dst, changed), where
    * `changed` marks an edge dropped in the last round. */
  private[graft] def peel(edges: DataFrame, k: Int): Fixpoint.Result = {
    require(k >= 1, s"k must be >= 1, got $k")
    val sym = edges.select(col("src"), col("dst"))
      .unionAll(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint()
    Fixpoint.iterate(sym.withColumn("changed", lit(false)), Int.MaxValue) { (prev, _) =>
      val cur = prev.filter(!col("changed")).select(col("src"), col("dst"))
      val bad = cur.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") < k).select(col("src").as("v"))
      cur
        .join(bad.select(col("v").as("bs")), col("src") === col("bs"), "left")
        .join(bad.select(col("v").as("bd")), col("dst") === col("bd"), "left")
        .select(col("src"), col("dst"),
          (col("bs").isNotNull || col("bd").isNotNull).as("changed"))
    }
  }
}
