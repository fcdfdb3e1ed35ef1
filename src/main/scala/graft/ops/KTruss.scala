package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-truss extraction ([PK] Cohen 2008): the maximal subgraph in which
  * every EDGE closes at least k−2 triangles — the edge-grade sibling of
  * [[KCore]]'s vertex screen, and the sharper community-curation tool:
  * a high-degree spam hub survives any k-core its degree buys, but its
  * edges close no triangles and dissolve out of the 3-truss, while a
  * genuine community's mutually-connected edges all survive. Standard
  * use: keep the 3-/4-truss of the co-purchase or citation graph as
  * the "dense, corroborated" slice before community labeling (L114's
  * modularity then scores it).
  *
  * Algorithm: iterative support peeling to a fixpoint — count each
  * edge's triangle support with the [[Triangles]] degree-ordered
  * edge-iterator kernel (each enumerated triangle {x,y,z} feeds
  * support to its three edges via one explode — no per-wedge
  * shuffle), drop edges below k−2, repeat. Dropping an edge can only
  * lower OTHER edges' support, so the fixpoint is well-defined and
  * the round count is bounded by the truss peeling depth (a handful
  * in practice — each round removes a whole "shell", not one edge).
  *
  * Scale: every round is the Triangles plan (equi-joins + per-edge
  * array intersect, Θ(Σ outdeg²) bounded by degree orientation at
  * O(m^1.5) total) plus one left join against the support census —
  * nothing pairwise beyond the wedge work the triangle count itself
  * requires. Rounds run on the [[Fixpoint]] driver, which materializes
  * each round's edge set before the next round's Triangles subtree
  * reads it several times.
  */
object KTruss {

  /** Edges of the k-truss of the undirected simple graph induced by
    * `edges` (self-loops dropped, duplicates and direction collapsed),
    * one row per surviving edge with `u` < `v`. */
  def ktruss(edges: DataFrame, srcCol: String, dstCol: String,
      k: Int): DataFrame = {
    require(k >= 3, s"k must be >= 3 (k = 2 is every edge), got $k")
    val undirected = edges
      .select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("t"))
      .filter(col("s").isNotNull && col("t").isNotNull &&
        col("s") =!= col("t"))
      .select(least(col("s"), col("t")).as("u"),
        greatest(col("s"), col("t")).as("v"))
      .distinct()
      .localCheckpoint()
    // each round marks the edges below support k − 2; the next drops them
    Fixpoint.iterate(undirected.withColumn("changed", lit(false)), Int.MaxValue) { (prev, _) =>
      val cur = prev.filter(!col("changed")).select(col("u"), col("v"))
      val sup = Triangles.triples(cur, "u", "v")
        .select(explode(array(
          struct(col("x").as("u"), col("y").as("v")),
          struct(col("x").as("u"), col("z").as("v")),
          struct(col("y").as("u"), col("z").as("v")))).as("e"))
        .groupBy(col("e.u").as("u"), col("e.v").as("v"))
        .agg(count(lit(1)).as("support"))
      cur.join(sup, Seq("u", "v"), "left")
        .select(col("u"), col("v"),
          (coalesce(col("support"), lit(0L)) < (k - 2).toLong).as("changed"))
    }.state.select(col("u"), col("v")).orderBy("u", "v")
  }
}
