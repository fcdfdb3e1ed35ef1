package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, PredicateHelper, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native as-of join (SURVEY.md §2.3 J8) — the one join DuckDB ships
  * natively (`ASOF JOIN`) and Spark lacks. This is the engine's
  * whole-operator extension demo: a custom logical node, an optimizer
  * rule, a planner strategy, and a physical merge-join operator, wired
  * through the public extension points (`experimental.extraStrategies` /
  * `SparkSessionExtensions`).
  *
  * Semantics (left outer): for every left row, append the matching
  * right row per `direction` — Backward (default): the greatest
  * `rightTs <= leftTs`, ties broken by the greatest `tie` column when
  * given; Forward: the least `rightTs >= leftTs`, ties by the LEAST tie
  * (first row in sort order); nulls when no such row. An optional
  * `tolerance` (in the ts column's native unit — µs for timestamps,
  * days for dates) additionally bounds |leftTs - rightTs|, matching the
  * pandas `merge_asof` / DuckDB `ASOF JOIN` surface.
  *
  * Why a custom operator instead of the window rewrite (q56) or a range
  * join + rank: the rewrite unions both inputs through one shuffle and
  * runs carry-forward window state over the merged stream; the range
  * join materializes every (left, earlier-right) pair before ranking.
  * This operator instead asks EnsureRequirements for co-partitioning on
  * the key and per-partition (key, ts) order — the same contract as
  * sort-merge join — and streams both sides once with a two-pointer
  * merge: no pair blow-up, no window buffer, and at 100 TB both inputs
  * shuffle exactly once (or zero times when bucketed on the key).
  */
sealed trait AsofDirection
object AsofDirection {
  /** Latest right row at-or-before the left timestamp (the default). */
  case object Backward extends AsofDirection
  /** Earliest right row at-or-after the left timestamp. */
  case object Forward extends AsofDirection
}

case class AsofJoinPlan(
    left: LogicalPlan, right: LogicalPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightTie: Option[Attribute],
    direction: AsofDirection = AsofDirection.Backward,
    tolerance: Option[Long] = None) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinPlan =
    copy(left = newLeft, right = newRight)
}

/** Catalyst won't push predicates through operators it doesn't know, so
  * without this rule a `filter` above an as-of join scans both sides in
  * full. Left-side predicates commute with the join (it's per-left-row);
  * push them down so they reach the parquet scan.
  */
object PushFilterThroughAsofJoin extends Rule[LogicalPlan] with PredicateHelper {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case f @ Filter(cond, aj: AsofJoinPlan) =>
      // like Catalyst's own pushdown, never move non-deterministic
      // predicates (a pushed rand() would see different rows)
      val (leftPreds, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (leftPreds.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(leftPreds.reduce(And), aj.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Plans [[AsofJoinPlan]] as [[AsofJoinExec]]. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinPlan(l, r, lk, rk, lts, rts, tie, dir, tol) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, tie,
        dir, tol) :: Nil
    case _ => Nil
  }
}

/** Two-pointer merge as-of join. Children arrive co-partitioned on the
  * key and sorted by (key, ts[, tie]) — EnsureRequirements inserts the
  * exchanges/sorts exactly as it does for sort-merge join — so each
  * partition is a single streaming pass holding one buffered right row.
  */
case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKey: Attribute, rightKey: Attribute,
    leftTs: Attribute, rightTs: Attribute,
    rightTie: Option[Attribute],
    direction: AsofDirection = AsofDirection.Backward,
    tolerance: Option[Long] = None) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftKey)) :: ClusteredDistribution(Seq(rightKey)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)) ++
      rightTie.map(SortOrder(_, Ascending)))

  override def outputPartitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  private def comparator(dt: DataType): (Any, Any) => Int = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (a, b) => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case IntegerType | DateType =>
      (a, b) => java.lang.Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case ShortType =>
      (a, b) => java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case DoubleType =>
      (a, b) => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType =>
      (a, b) => java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case StringType =>
      (a, b) => a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case other =>
      throw new IllegalArgumentException(s"asof join key/ts type not supported: $other")
  }

  /** |a - b| in the ts type's native unit, for the tolerance bound.
    * Only integral-ordered ts types support tolerance. */
  private def diffFn(dt: DataType): (Any, Any) => Long = dt match {
    case LongType | TimestampType | TimestampNTZType =>
      (a, b) => math.abs(a.asInstanceOf[Long] - b.asInstanceOf[Long])
    case IntegerType | DateType =>
      (a, b) => math.abs(a.asInstanceOf[Int].toLong - b.asInstanceOf[Int].toLong)
    case ShortType =>
      (a, b) => math.abs(a.asInstanceOf[Short].toLong - b.asInstanceOf[Short].toLong)
    case other =>
      throw new IllegalArgumentException(
        s"asof tolerance requires an integral ts type, got: $other")
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeyIdx = left.output.indexWhere(_.exprId == leftKey.exprId)
    val rKeyIdx = right.output.indexWhere(_.exprId == rightKey.exprId)
    val lTsIdx = left.output.indexWhere(_.exprId == leftTs.exprId)
    val rTsIdx = right.output.indexWhere(_.exprId == rightTs.exprId)
    require(lKeyIdx >= 0 && rKeyIdx >= 0 && lTsIdx >= 0 && rTsIdx >= 0,
      "asof join columns must come from the join children")
    val keyDt = leftKey.dataType
    val tsDt = leftTs.dataType
    require(rightKey.dataType == keyDt && rightTs.dataType == tsDt,
      "asof join key/ts types must match across sides")
    val keyCmp = comparator(keyDt)
    val tsCmp = comparator(tsDt)
    val diff = tolerance.map(_ => diffFn(tsDt))
    val tol = tolerance.getOrElse(Long.MaxValue)
    val forward = direction == AsofDirection.Forward
    val rightWidth = right.output.size
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val nullRight = new GenericInternalRow(rightWidth)
      val joined = new JoinedRow
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      var rRow: InternalRow = null
      var rKeyV: Any = null
      var rTsV: Any = null
      def advanceRight(): Unit = {
        rRow = null
        while (rRow == null && rIter.hasNext) {
          val r = rIter.next()
          // rows with null key/ts can never match; skip them up front
          if (!r.isNullAt(rKeyIdx) && !r.isNullAt(rTsIdx)) {
            rRow = r
            rKeyV = r.get(rKeyIdx, keyDt)
            rTsV = r.get(rTsIdx, tsDt)
          }
        }
      }
      advanceRight()
      var best: InternalRow = null
      var bestTs: Any = null
      var bestKey: Any = null
      def withinTol(a: Any, b: Any): Boolean =
        diff.forall(d => d(a, b) <= tol)
      lIter.map { l =>
        if (l.isNullAt(lKeyIdx) || l.isNullAt(lTsIdx)) {
          project(joined(l, nullRight))
        } else {
          val lk = l.get(lKeyIdx, keyDt)
          val lt = l.get(lTsIdx, tsDt)
          // drop right rows for keys already passed
          while (rRow != null && keyCmp(rKeyV, lk) < 0) advanceRight()
          val out: InternalRow =
            if (forward) {
              // skip rights strictly before lt — later lefts have
              // larger lt, so they can never need them either. The
              // winner is then PEEKED, not consumed: the same right row
              // can serve several lefts with earlier timestamps.
              while (rRow != null && keyCmp(rKeyV, lk) == 0 && tsCmp(rTsV, lt) < 0)
                advanceRight()
              if (rRow != null && keyCmp(rKeyV, lk) == 0 && withinTol(rTsV, lt))
                rRow
              else nullRight
            } else {
              if (bestKey == null || keyCmp(bestKey, lk) != 0) { best = null; bestKey = lk }
              // fold in right rows at this key with ts <= left ts; sorted
              // input means the last one consumed is the as-of winner
              while (rRow != null && keyCmp(rKeyV, lk) == 0 && tsCmp(rTsV, lt) <= 0) {
                best = rRow.copy()
                bestTs = rTsV
                advanceRight()
              }
              if (best != null && withinTol(lt, bestTs)) best else nullRight
            }
          project(joined(l, out))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing entry point. */
object AsofJoinOp {

  /** Registers the strategy + optimizer rule on the session's public
    * experimental hooks (idempotent). `GraftExtensions` does the same
    * for config-based wiring at session build time. */
  def ensureRegistered(spark: org.apache.spark.sql.SparkSession): Unit = {
    val exp = GraftColumnBridge.experimental(spark)
    exp.synchronized {
      if (!exp.extraStrategies.contains(GraftStrategy))
        exp.extraStrategies = exp.extraStrategies :+ GraftStrategy
      if (!exp.extraOptimizations.contains(PushFilterThroughAsofJoin))
        exp.extraOptimizations = exp.extraOptimizations :+ PushFilterThroughAsofJoin
    }
  }

  /** Left outer as-of join: for each `left` row, the `right` row with
    * `left(leftKey) == right(rightKey)` and — Backward (default) — the
    * latest `rightTs <= leftTs` (greatest `tie` winning among equal
    * timestamps), or — Forward — the earliest `rightTs >= leftTs`
    * (least `tie` winning). `tolerance` bounds |leftTs - rightTs| in
    * the ts column's native unit (µs for timestamps, days for dates).
    * The two sides' column names must be disjoint — rename before
    * joining. */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTs: String, rightTs: String, tie: Option[String] = None,
      direction: AsofDirection = AsofDirection.Backward,
      tolerance: Option[Long] = None): DataFrame = {
    val spark = left.sparkSession
    ensureRegistered(spark)
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(plan: LogicalPlan, name: String): Attribute =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"column $name not found in ${plan.output.map(_.name).mkString(", ")}"))
    val overlap = lPlan.output.map(_.name).toSet
      .intersect(rPlan.output.map(_.name).toSet)
    require(overlap.isEmpty,
      s"asofJoin sides must not share column names, got: ${overlap.mkString(", ")}")
    GraftColumnBridge.ofRows(spark, AsofJoinPlan(
      lPlan, rPlan,
      attr(lPlan, leftKey), attr(rPlan, rightKey),
      attr(lPlan, leftTs), attr(rPlan, rightTs),
      tie.map(attr(rPlan, _)), direction, tolerance))
  }
}
