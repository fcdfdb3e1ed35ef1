package graft.ops

import graft.functions.SimFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor over an embedding
  * column — the sub-quadratic scale path for similarity search
  * (SURVEY.md §2.8 L7; brute-force q53 is the exact baseline). No SQL
  * oracle (approximate semantics); recall is asserted in AnnIvfSpec.
  *
  * Shape, chosen for the 100 TB story:
  *  - TRAIN: Lloyd's k-means over the corpus. Each iteration is one
  *    narrow projection (nearest-centroid id via the fused cosine kernel
  *    against a broadcast literal centroid matrix — no n×k join) plus
  *    one map-side-combinable groupBy(cid, pos) avg. Only the k×dim
  *    centroid matrix ever reaches the driver — model parameters, not
  *    data (the MLlib KMeans contract).
  *  - INDEX: one `cid` column on the corpus; at scale you'd
  *    `partitionBy(cid)` the sink (S6) so probes prune partitions.
  *  - QUERY: rank centroids per query on the driver (k values), scan
  *    only the nProbe matching buckets — a broadcast semi-filter — and
  *    brute-force rank within them. Work per query drops from |corpus|
  *    to ~nProbe/k of it.
  */
object AnnIvf {

  /** Centroids as plain driver-side arrays: model, not data. */
  final case class IvfModel(centroids: Array[Array[Float]]) {
    def k: Int = centroids.length
    def nearestCentroids(q: Array[Float], nProbe: Int): Seq[Int] =
      centroids.zipWithIndex
        .map { case (c, i) => (cosineLocal(q, c), i) }
        .sortBy { case (sim, i) => (-sim, i) }
        .take(nProbe).map(_._2).toSeq
  }

  private def cosineLocal(a: Array[Float], b: Array[Float]): Double = {
    var ab = 0.0; var aa = 0.0; var bb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      ab += x * y; aa += x * x; bb += y * y; i += 1
    }
    ab / (math.sqrt(aa) * math.sqrt(bb))
  }

  /** Column: id (0-based) of the nearest centroid to `emb`, ties to the
    * lowest id. k fused-cosine calls per row, no join, no shuffle. */
  private def nearestCid(emb: Column, centroids: Array[Array[Float]]): Column = {
    val sims = array(centroids.map(c => SimFns.cosineSim(emb, typedlit(c))): _*)
    (array_position(sims, array_max(sims)) - 1).cast("int")
  }

  /** Train k-means (cosine assignment, mean update) and return the
    * centroid matrix. Seeds = the k distinct vectors with the smallest
    * first-appearance ids — deterministic, no RNG, computed
    * DISTRIBUTED (one groupBy over the corpus; training already costs
    * iters × full-corpus aggregations) so the check is exact: a corpus
    * with fewer than k distinct vectors ANYWHERE fails fast — silently
    * training duplicate centroids would shrink the bucket space with no
    * signal — while any corpus with k distinct vectors trains, no
    * matter how its leading ids are arranged (a fixed seed window would
    * false-fail a corpus whose lowest ids are padding duplicates). */
  def train(emb: DataFrame, vecCol: String, idCol: String, k: Int,
      iters: Int): IvfModel =
    IvfModel(lloyd(emb, col(vecCol), col(idCol), k, iters,
      n => s"only $n distinct seed vectors in the corpus " +
        s"(< k=$k) — too degenerate to seed a full coarse quantizer")(
      nearestCid(col(vecCol), _)))

  /** Lloyd's k-means over the vector column `vec`, shared by [[train]]
    * and AnnPq.train. Seeds are the k distinct vectors with the
    * smallest first-appearance `id`; fewer than k fails with
    * `tooFew(found)`. Each iteration assigns every row with
    * `assign(centroids)` (an int id in 0 until k), then updates each
    * centroid to its members' per-position mean in one
    * map-side-combinable groupBy; only the k centroids reach the
    * driver. Empty clusters keep their previous centroid. */
  private[ops] def lloyd(emb: DataFrame, vec: Column, id: Column, k: Int,
      iters: Int, tooFew: Int => String)(
      assign: Array[Array[Float]] => Column): Array[Array[Float]] = {
    val seeds = emb.select(vec.as("v"), id.cast("long").as("i"))
      .groupBy("v").agg(min(col("i")).as("first_id"))
      .orderBy("first_id").limit(k)
      .select("v").collect().map(_.getSeq[Float](0).toArray)
    require(seeds.length == k, tooFew(seeds.length))
    (0 until iters).foldLeft(seeds) { (cents, _) =>
      val means = emb
        .select(assign(cents).as("cid"), posexplode(vec).as(Seq("pos", "x")))
        .groupBy("cid", "pos").agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cid").agg(array_sort(collect_list(struct(col("pos"), col("m"))))
          .as("pm"))
        .select(col("cid"), transform(col("pm"), _.getField("m").cast("float"))
          .as("centroid"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      cents.zipWithIndex.map { case (c, i) => means.getOrElse(i, c) }
    }
  }

  /** Corpus with its bucket assignment under `model`. */
  def assign(emb: DataFrame, vecCol: String, model: IvfModel): DataFrame =
    emb.withColumn("cid", nearestCid(col(vecCol), model.centroids))

  /** Shared exact-scoring tail — THE q53 determinism contract in one
    * place (rounded fused cosine, (sim desc, id asc) order, top-k via
    * TakeOrderedAndProject, rank attached over the k-row result):
    * [[topK]], AnnPq.topK and AnnIvfPq.topK all end here, so a
    * tie-break or rounding change cannot drift between them. */
  private[ops] def exactTopK(cand: DataFrame, vecCol: String, idCol: String,
      query: Array[Float], k: Int): DataFrame = {
    val top = cand
      .withColumn("sim", round(SimFns.cosineSim(col(vecCol), typedlit(query)), 6))
      .select(col(idCol), col("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
    top.withColumn("rnk",
        row_number().over(Window.orderBy(col("sim").desc, col(idCol))))
      .select(col(idCol), col("rnk"), col("sim"))
  }

  /** Per-row probe list as a pure expression: the nProbe bucket ids
    * nearest to `qVec`, ordered (sim desc, cid asc) to match
    * `IvfModel.nearestCentroids` exactly. Shared by [[topKBatch]] and
    * AnnIvfPq.topKBatch so the probe-ordering contract lives in ONE
    * place — a tie-break change here changes both consistently. */
  private[ops] def probesExpr(qVec: Column,
      centroids: Array[Array[Float]], nProbe: Int): Column = {
    val centroidSims = array(centroids.zipWithIndex.map { case (c, i) =>
      struct((-SimFns.cosineSim(qVec, typedlit(c))).as("neg_sim"),
        lit(i).as("cid"))
    }: _*)
    transform(
      slice(array_sort(centroidSims), lit(1), lit(nProbe)), _.getField("cid"))
  }

  /** Batch form of [[topK]]: top-k neighbors for EVERY query row in one
    * distributed plan — the serving shape at scale, where looping
    * [[topK]] per query would schedule one job each.
    *
    * The per-query probe list is computed with pure expressions (rank
    * the k centroid similarities inside a projection — the model rides
    * along as array literals), then exploded to (q_id, cid) rows and
    * equi-joined with the assigned corpus on the bucket id. The query
    * side is tiny (|queries| × nProbe rows) so Spark broadcasts it —
    * zero shuffle of the corpus; ranking windows are keyed per query.
    * Centroid ranking order matches `IvfModel.nearestCentroids`
    * ((sim desc, cid asc)), so results are identical to per-query
    * [[topK]] calls (pinned in AnnIvfSpec). */
  def topKBatch(assigned: DataFrame, vecCol: String, idCol: String,
      queries: DataFrame, qVecCol: String, qIdCol: String,
      model: IvfModel, k: Int, nProbe: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val probes = probesExpr(col(qVecCol), model.centroids, nProbe)
    val q = queries.select(col(qIdCol).as("q_id"), col(qVecCol).as("qv"),
      explode(probes).as("cid"))
    val scored = assigned.join(broadcast(q), "cid")
      .withColumn("sim", round(SimFns.cosineSim(col(vecCol), col("qv")), 6))
      // project before the window exchange: the corpus and query float
      // vectors are consumed by `sim` — only (q_id, id, sim) shuffles
      .select(col("q_id"), col(idCol), col("sim"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col(idCol))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("q_id"), col(idCol), col("rnk"), col("sim"))
  }

  /** Top-k neighbors of one query vector, probing `nProbe` buckets of
    * the assigned corpus. Returns (vec_id, rnk, sim) ranked on the
    * rounded similarity with id tie-break (the q53 determinism rule).
    *
    * Ranking is `orderBy(...).limit(k)` — Spark plans
    * TakeOrderedAndProject (per-partition top-k heap + driver merge of k
    * rows per partition), NOT a global ranking window, which would pull
    * every probed candidate into one partition (at 100 TB with
    * nProbe/k ≈ 1/3 of the corpus, an executor-sized bottleneck). The
    * `rnk` column is attached afterward over the k-row result — a
    * single-partition window over k rows, not over the corpus. */
  def topK(assigned: DataFrame, vecCol: String, idCol: String,
      model: IvfModel, query: Array[Float], k: Int, nProbe: Int): DataFrame = {
    val probes = model.nearestCentroids(query, nProbe)
    exactTopK(assigned.filter(col("cid").isin(probes: _*)),
      vecCol, idCol, query, k)
  }
}
