package graft.ops

import graft.plans.{Carry, CarryKind, OrderedCarryOp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.col

/** Exact global running totals without the single-reducer sort that
  * `SUM(x) OVER (ORDER BY … ROWS UNBOUNDED PRECEDING)` plans (the q98
  * trap): a thin wrapper over [[graft.plans.OrderedCarryOp]]. The
  * building block for exact distributed CDFs (q147's KS statistic),
  * running balances and cumulative mixes at fact scale.
  *
  * Ties: pass a total order, or the cumulative values within a run of
  * equal keys depend on row placement, exactly like SQL's
  * under-specified ORDER BY; uses that read only the value at the END
  * of each tie run (CDFs over distinct keys) are placement-independent.
  */
object PrefixSum {

  /** Returns `df` plus, for each (column, alias) in `sums`, a column
    * `alias` holding the cumulative `SUM` of that column over the global
    * `order` (Spark's `SUM` result type and null semantics). Integral and
    * decimal sums are exact; floating sums add the preceding partitions'
    * total to the in-partition running sum, as a distributed `SUM`
    * reassociates. */
  def withPrefixSums(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String)]): DataFrame =
    withPrefixSumsAndTotals(df, order, sums, Nil, Nil)

  /** [[withPrefixSums]] fused with the census' totals: every row also
    * carries, per (column, alias) in `totals`, the `SUM` of that column
    * over its `group` (the grand total when `group` is empty) and, per
    * (column, alias) in `offsets`, the sum over the groups whose key
    * sorts before its own (0 for the first group). All come from the
    * prefix pass's own partials, so the census is built once; the prefix
    * sums stay global. Groups must be few (one driver partial per
    * partition and group). Empty input gives an empty frame. */
  def withPrefixSumsAndTotals(df: DataFrame, order: Seq[Column],
      sums: Seq[(Column, String)], group: Seq[String],
      totals: Seq[(Column, String)],
      offsets: Seq[(Column, String)] = Nil): DataFrame = {
    require(sums.nonEmpty, "need at least one column to sum")
    def carries(kind: CarryKind, cs: Seq[(Column, String)]) =
      cs.map { case (c, alias) => Carry(kind, c, alias) }
    OrderedCarryOp.carry(df, order, group.map(col),
      carries(CarryKind.RunningSum, sums) ++ carries(CarryKind.GroupTotal, totals) ++
        carries(CarryKind.GroupOffset, offsets))
  }
}
