package graft.ops

import graft.plans.{Carry, CarryKind, OrderedCarryOp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact global `NTILE(k)` without the single-reducer sort that
  * `NTILE(k) OVER (ORDER BY …)` plans: the global rank (a running row
  * count) and n (the row count) come from one
  * [[graft.plans.OrderedCarryOp]] pass, then the front-loaded NTILE
  * bucket formula is evaluated per row. Ties are the caller's problem:
  * pass a total order (append a unique key) — SQL NTILE's contract.
  * [[AppxQcut]] bins with zero shuffles when sketch-exact populations
  * suffice; this is the form that must hash-match `NTILE(k)`.
  */
object RangedNtile {

  /** Returns `df` plus an integer column `out` holding the exact
    * `NTILE(k) OVER (ORDER BY order…)` bucket (1-based). */
  def withNtile(df: DataFrame, k: Int, order: Seq[Column],
                out: String): DataFrame = {
    require(k > 0, s"ntile k must be positive, got $k")
    // NTILE(k): with q = n div k and rem = n mod k, buckets 1..rem hold
    // q+1 rows and the rest hold q — row r (1-based) lands in bucket
    // ceil(r/(q+1)) while r <= rem*(q+1), else rem + ceil((r-cut)/q)
    val q = s"(__n div $k)"
    val rem = s"(__n % $k)"
    val cut = s"($rem * ($q + 1))"
    OrderedCarryOp.carry(df, order, Nil, Seq(
        Carry(CarryKind.RunningSum, lit(1L), "__r"),
        Carry(CarryKind.GroupTotal, lit(1L), "__n")))
      .withColumn(out,
        when(col("__r") <= expr(cut), expr(s"(__r - 1) div ($q + 1) + 1"))
          .otherwise(expr(s"$rem + (__r - $cut - 1) div greatest($q, 1) + 1"))
          .cast("int"))
      .drop("__r", "__n")
  }
}
