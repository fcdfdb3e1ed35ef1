package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions.col

/** Output compaction + clustering — the sink-side discipline that keeps
  * a 100 TB table readable: bounded file sizes (no small-files problem,
  * no 10 GB monsters) and range-clustered data so min/max row-group
  * stats actually prune scans on the sort key.
  *
  * `repartitionByRange` samples the sort key to build balanced range
  * boundaries (one shuffle), `sortWithinPartitions` orders rows inside
  * each file so parquet writes tight min/max stats per row group, and
  * `maxRecordsPerFile` caps stragglers. Files end up covering DISJOINT
  * key ranges — a filter on the sort key touches one file instead of
  * all of them (asserted in CompactionSpec).
  *
  * Row-count targeting uses a `count()` pass here for exactness; a
  * production pipeline at scale would derive the partition count from
  * incoming file statistics instead of a dedicated job, or simply fix
  * it from the known daily volume.
  */
object Compaction {

  /** Partition count for `totalRows` at `targetRowsPerFile`. */
  def filesFor(totalRows: Long, targetRowsPerFile: Long): Int =
    math.max(1L, (totalRows + targetRowsPerFile - 1) / targetRowsPerFile).toInt

  /** Cluster `df` by `sortCols` into files of at most `targetRowsPerFile`
    * rows and write them to `path` (overwrite). Returns the file count. */
  def writeClustered(df: DataFrame, path: String, sortCols: Seq[String],
      targetRowsPerFile: Long): Int = {
    require(sortCols.nonEmpty, "need at least one clustering column")
    writeRanges(df, path, sortCols.map(col), targetRowsPerFile)
  }

  /** The write tail of every clustered sink ([[writeClustered]],
    * [[ZOrder.writeZOrdered]], [[Hilbert.writeHilbertClustered]]):
    * count `df`, range-partition it on `keys` into [[filesFor]] files,
    * sort each file by `keys`, drop the `dropped` key column if one is
    * given, and write at most `targetRowsPerFile` rows per file to
    * `path` (overwrite). Returns the file count. */
  private[ops] def writeRanges(df: DataFrame, path: String, keys: Seq[Column],
      targetRowsPerFile: Long, dropped: Option[String] = None): Int = {
    val n = df.count()
    val k = filesFor(n, targetRowsPerFile)
    val sorted = df.repartitionByRange(k, keys: _*)
      .sortWithinPartitions(keys: _*)
    dropped.fold(sorted)(c => sorted.drop(c))
      .write.mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", targetRowsPerFile)
      .parquet(path)
    k
  }
}
