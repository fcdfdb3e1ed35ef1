package graft.ops

import graft.plans.{Carry, CarryKind, OrderedCarryOp}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact 2-D skyline (Pareto frontier, Börzsönyi et al., ICDE 2001):
  * keep row r iff no other row has x ≤ r.x and y ≥ r.y with at least
  * one strict (minimize x, maximize y). Instead of an all-pairs NOT
  * EXISTS or a single-reducer sweep, one [[graft.plans.OrderedCarryOp]]
  * pass over (x asc, y desc) carries the best y among the rows strictly
  * before each row — every smaller x, plus larger y at the same x. A row
  * survives iff its y beats that; equal (x, y) rows are peers, excluded
  * from each other's maximum, so ties all survive. Null y never
  * survives; null x sorts first. A single hot x stays in one partition.
  */
object Skyline {

  /** Frontier rows of `df` under (minimize `x`, maximize `y`), with all
    * original columns preserved. */
  def skyline2(df: DataFrame, x: Column, y: Column): DataFrame =
    OrderedCarryOp.carry(df, Seq(x.asc, y.desc), Nil,
        Seq(Carry(CarryKind.PriorMax, y, "__prior")))
      .filter(y.isNotNull && (col("__prior").isNull || y > col("__prior")))
      .drop("__prior")
}
