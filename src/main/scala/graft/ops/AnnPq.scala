package graft.ops

import graft.functions.SimFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for approximate nearest neighbor — the
  * memory-side scale path that complements AnnIvf's partition pruning
  * (public technique: Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011). The vector is split into `m`
  * subspaces; each sub-vector is quantized to one of `ksub` per-subspace
  * centroids, so a dim-64 float vector (256 B) compresses to m codes
  * (m bytes) — the representation a 100 TB corpus can actually hold hot.
  *
  * Shape, chosen for the cluster story:
  *  - TRAIN: per-subspace Lloyd's k-means, each iteration one
  *    distributed nearest-code projection + one map-side-combinable
  *    groupBy mean. Only the m×ksub×(dim/m) codebook reaches the driver
  *    — model, not data (same contract as AnnIvf centroids).
  *  - ENCODE: pure-expression argmin over the broadcast codebook
  *    literals — per-row map, no shuffle, no UDF.
  *  - QUERY (ADC — asymmetric distance computation): the query builds an
  *    m×ksub lookup table of exact sub-dot-products on the driver
  *    (model-sized); the corpus-side approximate score is then m
  *    `element_at` array lookups + a sum — no float vector is touched.
  *    Candidates ranked by `TakeOrderedAndProject` (never a global
  *    window), then the `shortlist` survivors re-ranked with the exact
  *    fused cosine kernel — the standard two-stage PQ serve.
  */
object AnnPq {

  /** codebooks(sub)(code) = centroid of subspace `sub` (length dim/m).
    * Plain driver-side arrays: model parameters, not data. */
  final case class PqModel(dim: Int, m: Int, ksub: Int,
      codebooks: Array[Array[Array[Float]]]) {
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    def dsub: Int = dim / m
  }

  /** Squared-L2 between a sub-vector slice column and a literal
    * centroid, as a pure expression (stays in codegen). */
  private def l2sq(sub: Column, centroid: Array[Float]): Column =
    aggregate(
      zip_with(sub, typedlit(centroid), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)

  /** 1-based slice of subspace `s` from the full vector column. */
  private def subVec(vec: Column, model: PqModel, s: Int): Column =
    slice(vec, s * model.dsub + 1, model.dsub)

  /** Column: nearest-centroid code (0-based) of subspace `s`, ties to
    * the lowest code — ksub expression kernels per row, no join. */
  private def nearestCode(vec: Column, model: PqModel, s: Int): Column = {
    val dists = array(model.codebooks(s).map(c => l2sq(subVec(vec, model, s), c)): _*)
    (array_position(dists, array_min(dists)) - 1).cast("int")
  }

  /** Train per-subspace k-means codebooks. Seeds per subspace = the
    * ksub distinct sub-vectors with the smallest first-appearance ids —
    * deterministic, no RNG, computed DISTRIBUTED (one groupBy per
    * subspace; training already costs m × iters full-corpus
    * aggregations) so the check is exact.
    *
    * Validation (ADVICE r3/r4): a corpus with fewer than ksub distinct
    * sub-vectors in some subspace must fail fast — silently training
    * duplicate centroids shrinks the effective code space (degraded
    * recall with no signal) — while any corpus with ksub distinct
    * sub-vectors everywhere trains, no matter how its leading ids are
    * arranged (a fixed seed window would false-fail a corpus whose
    * lowest ids are padding duplicates). */
  def train(emb: DataFrame, vecCol: String, idCol: String, m: Int,
      ksub: Int, iters: Int): PqModel = {
    val dim = emb.select(size(col(vecCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim must split evenly into $m subspaces")
    val dsub = dim / m
    val codebooks = (0 until m).toArray.map { s =>
      val sv = slice(col(vecCol), s * dsub + 1, dsub)
      AnnIvf.lloyd(emb, sv, col(idCol), ksub, iters,
        n => s"subspace $s: only $n distinct seed sub-vectors in " +
          s"the corpus (< ksub=$ksub) — too degenerate to train a full " +
          "codebook") { cents =>
        val dists = array(cents.map(c => l2sq(sv, c)): _*)
        (array_position(dists, array_min(dists)) - 1).cast("int")
      }
    }
    PqModel(dim, m, ksub, codebooks)
  }

  /** Corpus with its m-byte PQ code array under `model` — the encode
    * step; downstream serving needs only (id, codes). */
  def encode(emb: DataFrame, vecCol: String, model: PqModel): DataFrame =
    emb.withColumn("codes",
      array((0 until model.m).map(s => nearestCode(col(vecCol), model, s)): _*))

  /** ADC lookup table for one query: lut(sub)(code) = dot(q_sub,
    * codebook(sub)(code)). m×ksub doubles, computed on the driver —
    * model-sized work, broadcast as literals into the scoring plan. */
  def adcTable(query: Array[Float], model: PqModel): Array[Array[Double]] =
    (0 until model.m).toArray.map { s =>
      model.codebooks(s).map { c =>
        var d = 0.0; var i = 0
        while (i < c.length) {
          d += query(s * model.dsub + i).toDouble * c(i); i += 1
        }
        d
      }
    }

  /** Top-k by two-stage PQ serve: rank ALL rows by the ADC approximate
    * inner product (m array lookups per row over the codes column — the
    * float vectors are never read), take the `shortlist` best via
    * TakeOrderedAndProject, then re-rank those exactly with the fused
    * cosine kernel. Returns (idCol, rnk, sim) like AnnIvf.topK. */
  def topK(encoded: DataFrame, vecCol: String, idCol: String,
      model: PqModel, query: Array[Float], k: Int, shortlist: Int): DataFrame = {
    val lut = adcTable(query, model)
    val approx = (0 until model.m).map { s =>
      element_at(typedlit(lut(s)), element_at(col("codes"), s + 1) + 1)
    }.reduce(_ + _)
    val cand = encoded.withColumn("approx", approx)
      .orderBy(col("approx").desc, col(idCol))
      .limit(shortlist)
    AnnIvf.exactTopK(cand, vecCol, idCol, query, k)
  }
}
