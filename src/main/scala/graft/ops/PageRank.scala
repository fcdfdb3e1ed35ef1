package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank (Page et al., 1999) over an edge DataFrame —
  * the remaining classic of the iterative-graph family next to
  * [[ConnectedComponents]]: per iteration, every vertex sends its rank
  * mass down its (optionally weighted) out-edges, and ranks re-form as
  * `(1−d)/N + d·(received + danglingMass/N)` — dangling vertices (no
  * out-edges) redistribute uniformly, so total mass stays 1 and the
  * result is a probability distribution.
  *
  * Scale shape, mirroring ConnectedComponents: each iteration is ONE
  * hash equi-join (ranks ⋈ edges on src, both hash-partitioned on the
  * key, so the partitioning is reused across iterations) plus one
  * map-side-combinable sum per destination; the dangling mass is a
  * one-row aggregate joined in as a column, so vertex data never
  * reaches the driver (N is counted once up front). Rounds run on the
  * [[Fixpoint]] driver with every row marked changed, so exactly
  * `iters` run — the standard Pregel-without-Pregel trade.
  */
object PageRank {

  /** Ranks after `iters` damped iterations: (id, rank) with
    * Σ rank = 1. Parallel edges are pre-merged (weights summed);
    * `weightCol = None` means every edge weighs 1, Some(w) sends mass
    * proportionally to w. Vertices = src ∪ dst of `edges`. */
  def ranks(edges: DataFrame, srcCol: String, dstCol: String,
      weightCol: Option[String] = None, damping: Double = 0.85,
      iters: Int = 10): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(damping > 0 && damping < 1, "damping must be in (0, 1)")
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val merged = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .groupBy("src", "dst").agg(sum("w").as("w"))
    // each edge carries its source's total out-weight `tw`
    val e = merged.join(merged.groupBy("src").agg(sum("w").as("tw")), "src")
      .localCheckpoint()
    // dangling vertices (no out-edge) teleport their mass each round
    val nodes = e.select(col("src").as("id"), lit(false).as("dangling"))
      .union(e.select(col("dst").as("id"), lit(true).as("dangling")))
      .groupBy("id").agg(min("dangling").as("dangling"))
      .localCheckpoint()
    val n = nodes.count()
    if (n == 0) nodes.select(col("id"), lit(0.0).as("rank"))
    else Fixpoint.iterate(nodes.withColumn("rank", lit(1.0 / n)), iters) { (ranks, _) =>
      val dangling = ranks.filter(col("dangling"))
        .agg((coalesce(sum("rank"), lit(0.0)) / n.toDouble).as("dm"))
      val received = e.join(ranks.select(col("id").as("src"), col("rank")), "src")
        .select(col("dst").as("id"),
          (col("rank") * col("w") / col("tw")).as("m"))
        .groupBy("id").agg(sum("m").as("m"))
      nodes.join(received, Seq("id"), "left").crossJoin(dangling)
        .select(col("id"), col("dangling"),
          (lit((1.0 - damping) / n) +
            lit(damping) * (coalesce(col("m"), lit(0.0)) + col("dm")))
            .as("rank"),
          lit(true).as("changed"))
    }.state.select(col("id"), col("rank"))
  }
}
