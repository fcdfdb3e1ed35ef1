package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by iterative min-label propagation — the step
  * that turns record-linkage match PAIRS (q83) into ENTITIES: every
  * record in a transitively-connected cluster gets the cluster's
  * smallest id as its entity id. (Public technique: label propagation /
  * "hash-to-min", e.g. Rastogi et al., "Finding Connected Components
  * in Map-Reduce in Logarithmic Rounds", ICDE 2013.)
  *
  * Each round is one hash-partitioned join + partial-aggregated min on
  * the [[Fixpoint]] driver — no driver-side graph, no GraphX/RDDs.
  * Converges in O(component diameter) rounds; dedup/linkage clusters
  * are shallow (near-cliques), so 3–5 rounds in practice.
  */
object ConnectedComponents {

  /** Component labels for every vertex that appears in `edges`
    * (undirected; self-loops fine). Returns (id, component) where
    * component = the smallest vertex id reachable. */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 25): DataFrame = {
    val r = run(edges, srcCol, dstCol, maxIters)
    require(r.converged,
      s"label propagation did not converge in $maxIters rounds")
    r.state.select(col("id"), col("component"))
  }

  /** The label fixpoint itself: state (id, component, changed). */
  private[graft] def run(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int): Fixpoint.Result = {
    // ONE pass over the (possibly expensive) caller edge build and ONE
    // distinct shuffle (r20, guide §2.4): each input edge explodes to
    // both directed orientations PLUS both endpoints' self-edges —
    // previously three union branches over two subtrees with two
    // distincts. The self-edge per vertex makes one join + one
    // aggregation yield BOTH min(self, neighbors) — the update — and
    // the self row's label — the previous value for the convergence
    // check. A null endpoint identifies nothing — drop the edge rather
    // than propagate null labels through the joins.
    val symPlus = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull)
      .select(explode(array(
        struct(col("s").as("src"), col("t").as("dst")),
        struct(col("t").as("src"), col("s").as("dst")),
        struct(col("s").as("src"), col("s").as("dst")),
        struct(col("t").as("src"), col("t").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .distinct()
      .localCheckpoint()

    // round 1 skips the label join: identity labels make min(dst) the
    // update and the self row's dst the previous label
    val identity = symPlus.select(col("src").as("id"), col("src").as("component"))
    Fixpoint.iterate(identity, maxIters) { (labels, round) =>
      val (neighbors, label) =
        if (round == 1) (symPlus, col("dst"))
        else (symPlus.join(labels.select(col("id").as("nid"), col("component")),
          col("dst") === col("nid")), col("component"))
      neighbors.groupBy(col("src"))
        .agg(min(label).as("next"),
          // exactly one self row per src carries the previous label
          min(when(col("dst") === col("src"), label)).as("prev"))
        .select(col("src").as("id"), col("next").as("component"),
          (col("next") =!= col("prev")).as("changed"))
    }
  }
}
