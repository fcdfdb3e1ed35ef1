package graft.ops

import graft.functions.HilbertFns
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hilbert-curve clustering — the locality-tighter sibling of
  * [[ZOrder]] (L34) for 2-D clustering keys: rank each column into a
  * 2^bits quantile grid (the same model-sized driver state as ZOrder —
  * one approxQuantile pass per column), index cells by HILBERT distance
  * instead of Morton interleave, and range-partition the write on the
  * index. Because consecutive Hilbert indices are always 4-neighbour
  * cells, each output file covers a more compact rectangle of the grid
  * than the z-curve's seam-crossing ranges — HilbertSpec measures the
  * per-file min/max spans against both the z-order and 1-D baselines.
  *
  * Scale shape: identical to ZOrder — driver state is 2·(2^bits − 1)
  * quantile boundaries, the index is one codegen'd kernel call per row
  * (no join, no extra shuffle), and the write pays the single
  * `repartitionByRange` shuffle Compaction already pays.
  */
object Hilbert {

  /** Cluster `df` on the Hilbert curve over two numeric columns into
    * files of at most `targetRowsPerFile` rows at `path` (overwrite).
    * Returns the planned file count. */
  def writeHilbertClustered(df: DataFrame, path: String,
      xCol: String, yCol: String, targetRowsPerFile: Long,
      bits: Int = 8): Int = {
    val rx = ZOrder.quantileRank(df, xCol, bits).cast("long")
    val ry = ZOrder.quantileRank(df, yCol, bits).cast("long")
    Compaction.writeRanges(
      df.withColumn("__h", HilbertFns.hilbertIndex(rx, ry, bits)), path,
      Seq(col("__h")), targetRowsPerFile, dropped = Some("__h"))
  }
}
