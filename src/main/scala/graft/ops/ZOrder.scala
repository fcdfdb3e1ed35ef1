package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) clustering — the multi-dimensional data-
  * skipping companion to [[Compaction]]'s 1-D range clustering, and
  * the shape behind lakehouse `OPTIMIZE ... ZORDER BY`: interleave the
  * bits of each clustering column's quantile rank so that rows close
  * in EVERY dimension land in the same file. A 1-D sort gives perfect
  * min/max pruning on the sort key and none on the others; z-order
  * trades a little pruning on each dimension for useful pruning on all
  * of them (ZOrderSpec measures exactly this against the 1-D
  * baseline).
  *
  * Scale shape: the only driver-side work is one approxQuantile pass
  * per column (2^bits boundary values — model-sized, like the ANN
  * trainers); ranking is then a per-row codegen'd expression (no join,
  * no shuffle), and the write is the same single
  * `repartitionByRange(z)` shuffle Compaction already pays. Quantile
  * (not equal-width) buckets keep the curve balanced under skew.
  */
object ZOrder {

  /** Morton interleave: bit b of rank column c becomes output bit
    * `b·n + c`. Ranks must fit `bits` bits; `bits · n ≤ 62` keeps the
    * result in a positive Long. */
  def interleaveBits(ranks: Seq[Column], bits: Int): Column = {
    require(ranks.nonEmpty, "need at least one rank column")
    require(bits >= 1 && bits * ranks.size <= 62,
      s"bits=$bits x ${ranks.size} cols must stay within a positive Long")
    val n = ranks.size
    val terms = for {
      b <- 0 until bits
      (r, c) <- ranks.zipWithIndex
    } yield shiftleft(shiftright(r.cast("long"), b).bitwiseAND(lit(1L)),
      b * n + c)
    terms.reduce(_ + _)
  }

  /** Quantile bucket rank in [0, 2^bits) for a numeric column: one
    * driver-side approxQuantile pass builds 2^bits − 1 boundaries, the
    * rank is then "boundaries strictly below the value" — a per-row
    * HOF over the boundary literal, inside codegen. */
  def quantileRank(df: DataFrame, column: String, bits: Int,
      relativeError: Double = 0.001): Column = {
    val nb = 1 << bits
    val probs = (1 until nb).map(_.toDouble / nb).toArray
    val bounds = df.stat.approxQuantile(column, probs, relativeError)
    size(filter(typedlit(bounds), b => b < col(column).cast("double")))
  }

  /** Cluster `df` on the z-curve over `zCols` into files of at most
    * `targetRowsPerFile` rows at `path` (overwrite). Returns the
    * planned file count. */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      targetRowsPerFile: Long, bits: Int = 8): Int = {
    require(zCols.size >= 2,
      "z-order needs >= 2 columns; use Compaction.writeClustered for 1")
    val ranks = zCols.map(quantileRank(df, _, bits))
    Compaction.writeRanges(df.withColumn("__z", interleaveBits(ranks, bits)),
      path, Seq(col("__z")), targetRowsPerFile, dropped = Some("__z"))
  }
}
