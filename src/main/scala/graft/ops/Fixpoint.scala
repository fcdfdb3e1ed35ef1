package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The round loop behind the iterative graph operators (connected
  * components, label propagation, k-core, k-truss, PageRank, BFS).
  *
  * Each round's `step` returns the next state with a boolean `changed`
  * column. The driver cuts it with a lazy `localCheckpoint` and runs
  * `filter(changed).count()`, the round's only action: computing every
  * partition, that count also stores the cut, so the next round reads a
  * materialized frame and the plan stays one round deep (uncut, analysis
  * cost doubles every round). The count is synchronous, so no step races
  * the lazy materialization, and only that scalar reaches the driver.
  * Lost cut blocks cannot be recomputed.
  *
  * Peeling steps (k-core, k-truss) keep the rows they drop, marked
  * `changed`, and filter them out at the start of the next step; a
  * fixed-round step (PageRank) marks every row with `lit(true)`.
  */
object Fixpoint {

  /** The last state, the rounds run, and whether the last round changed
    * nothing. */
  final case class Result(state: DataFrame, rounds: Int, converged: Boolean)

  /** Runs `step(state, round)` for rounds 1, 2, … from `init` until a
    * round's state has no `changed` row or `maxRounds` rounds have run. */
  def iterate(init: DataFrame, maxRounds: Int)(
      step: (DataFrame, Int) => DataFrame): Result = {
    var state = init
    var rounds = 0
    var changed = 1L
    while (changed > 0 && rounds < maxRounds) {
      rounds += 1
      state = step(state, rounds).localCheckpoint(eager = false)
      changed = state.filter(col("changed")).count()
    }
    Result(state, rounds, changed == 0)
  }
}
