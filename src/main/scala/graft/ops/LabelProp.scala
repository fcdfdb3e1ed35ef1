package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Community detection by synchronous label propagation (Raghavan,
  * Albert & Kumara 2007, made deterministic) — the clustering step
  * between L23's connected components (too coarse: one bridge edge
  * merges everything) and modularity methods (too heavy for a first
  * pass): densely connected regions agree on a label in a few rounds
  * while sparse bridges cannot flip a community from outside.
  *
  * Determinism: the textbook algorithm breaks ties randomly and updates
  * asynchronously — both unacceptable here (results must be
  * reproducible across runs, partitionings and engines). This variant
  * is synchronous with a total order on votes: each vertex adopts the
  * label with the highest neighbor count, ties broken by SMALLEST
  * label, and every vertex also votes once for its own current label
  * (the self-vote damps the two-coloring oscillation synchronous LPA is
  * known for; a maxIters bound guarantees termination regardless —
  * LabelPropSpec pins exact parity with a sequential reference of the
  * same rule).
  *
  * Scale: each round is ONE hash join (neighbor labels flow along
  * edges) + ONE partial-aggregated count + ONE struct-min argmax — all
  * map-side combinable, no driver-side graph, no windows — on the
  * [[Fixpoint]] driver. Rounds needed ≈ community diameter, small for
  * the near-clique structures dedup/linkage produce.
  */
object LabelProp {

  /** Community labels for every vertex of `edges` (undirected;
    * self-loops ignored — every vertex self-votes anyway). Returns
    * (id, community) where community = the winning label after
    * convergence or `maxIters` synchronous rounds. */
  def communities(edges: DataFrame, srcCol: String, dstCol: String,
      maxIters: Int = 10): DataFrame = {
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()

    val identity = sym.select(col("src").as("id")).distinct()
      .withColumn("lbl", col("id"))
    Fixpoint.iterate(identity, maxIters) { (labels, _) =>
      // neighbor votes (one per distinct edge) + one self-vote per
      // vertex; only the self-vote carries the vertex's previous label
      val votes = sym
        .join(labels.select(col("id").as("nid"), col("lbl")),
          col("dst") === col("nid"))
        .select(col("src"), col("lbl"), lit(null).cast("long").as("prev"))
        .union(labels.select(col("id").as("src"), col("lbl"), col("lbl").as("prev")))
        .groupBy("src", "lbl")
        .agg(count(lit(1)).as("cnt"), max(col("prev")).as("prev"))
      // argmax by (count desc, label asc): lexicographic struct min
      votes
        .groupBy("src")
        .agg(min(struct((-col("cnt")).as("nc"), col("lbl"))).as("m"),
          max(col("prev")).as("prev"))
        .select(col("src").as("id"), col("m.lbl").as("lbl"),
          (col("m.lbl") =!= col("prev")).as("changed"))
    }.state.select(col("id"), col("lbl").as("community"))
  }
}
