package graft.plans

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, AttributeSet, Cast, Expression, GenericInternalRow, JoinedRow, Literal, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.Sum
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Distribution, OrderedDistribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy, SQLExecution, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.util.SizeEstimator

/** Global ordered carry, the engine of `PrefixSum`, `RangedNtile` and
  * `Skyline`: prefix aggregates over one total order with every stage
  * parallel. Where `SUM(x) OVER (ORDER BY k ROWS UNBOUNDED PRECEDING)`
  * single-partitions its input, this operator asks for an ordered
  * distribution, so the plan holds ONE range shuffle. Job 1 folds each
  * shuffle partition into one partial per (partition, group) — driver
  * state the size of the partition count, never row data; the driver
  * folds those into each partition's carry-in and each group's totals
  * and offsets; the output pass re-reads the same shuffle output, sorts
  * each partition and adds the carry-in. Both passes read one RDD, so
  * partition ids agree by construction and lost map output recomputes
  * through lineage; building the frame runs no job. Equal keys share a
  * partition, so peers never straddle one. SQLMetrics: `partial rows`
  * and `carry size` (the driver state shipped to the output tasks). */
sealed trait CarryKind
object CarryKind {
  /** SUM over this row and every row before it (`ROWS UNBOUNDED
    * PRECEDING`), whatever the grouping. */
  case object RunningSum extends CarryKind
  /** SUM over this row's group; the grand total when ungrouped. */
  case object GroupTotal extends CarryKind
  /** SUM over the groups whose key sorts before this row's; 0 for the
    * first group. */
  case object GroupOffset extends CarryKind
  /** MAX over the rows whose order key sorts strictly before this row's
    * (peers excluded), whatever the grouping. */
  case object PriorMax extends CarryKind
}

/** One carried output column of [[OrderedCarryOp.carry]]. */
case class Carry(kind: CarryKind, value: Column, name: String)

/** `child` plus one column per carry; `values` are cast to their fold
  * type, `carryOutput` holds the new attributes. */
case class OrderedCarryPlan(
    order: Seq[SortOrder], group: Seq[Expression], values: Seq[Expression],
    kinds: Seq[CarryKind], carryOutput: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = child.output ++ carryOutput
  override def producedAttributes: AttributeSet = AttributeSet(carryOutput)
  override protected def withNewChildInternal(c: LogicalPlan): OrderedCarryPlan = copy(child = c)
}

/** Plans [[OrderedCarryPlan]] as [[OrderedCarryExec]]. */
object OrderedCarryStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case OrderedCarryPlan(order, group, values, kinds, out, child) =>
      OrderedCarryExec(order, group, values, kinds, out, planLater(child)) :: Nil
    case _ => Nil
  }
}

/** Null-aware folds of the carried values (SQL SUM/MAX skip nulls; an
  * all-null fold is null), one per carry. */
private[plans] final class Folds(kinds: Array[CarryKind], types: Array[DataType]) {
  private val ops: Array[(Any, Any) => Any] = kinds.zip(types).map {
    case (CarryKind.PriorMax, t) =>
      val ord = TypeUtils.getInterpretedOrdering(t)
      (a: Any, b: Any) => if (ord.gt(b, a)) b else a
    case (_, LongType) => (a: Any, b: Any) => Math.addExact(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case (_, DoubleType) => (a: Any, b: Any) => a.asInstanceOf[Double] + b.asInstanceOf[Double]
    case (_, _: DecimalType) => (a: Any, b: Any) => a.asInstanceOf[Decimal] + b.asInstanceOf[Decimal]
    case (k, t) => throw new IllegalArgumentException(s"no ordered carry $k over $t")
  }
  def plus(i: Int, a: Any, b: Any): Any = if (a == null) b else if (b == null) a else ops(i)(a, b)
  def addAll(acc: Array[Any], part: Array[Any]): Unit =
    acc.indices.foreach(i => acc(i) = plus(i, acc(i), part(i)))
  def addRow(acc: Array[Any], v: InternalRow): Unit =
    acc.indices.foreach(i => acc(i) = plus(i, acc(i), InternalRow.copyValue(v.get(i, types(i)))))
}

/** See [[CarryKind]]. Non-codegen: one pass per sorted partition,
  * appending the carried values to each child row. */
case class OrderedCarryExec(
    order: Seq[SortOrder], group: Seq[Expression], values: Seq[Expression],
    kinds: Seq[CarryKind], carryOutput: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ carryOutput
  override def producedAttributes: AttributeSet = AttributeSet(carryOutput)
  override def requiredChildDistribution: Seq[Distribution] = OrderedDistribution(order) :: Nil
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = order

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numPartials" -> SQLMetrics.createMetric(sparkContext, "partial rows"),
    "carrySize" -> SQLMetrics.createSizeMetric(sparkContext, "carry size"))

  override protected def doExecute(): RDD[InternalRow] = {
    val input = child.execute()
    val (inAttrs, groupExprs, valueExprs, outAttrs) = (child.output, group, values, output)
    val (ks, types) = (kinds.toArray, values.map(_.dataType).toArray)
    val numPartials = longMetric("numPartials")
    // job 1: one element per partition, so partials(pid) is pid's
    val partials = input.mapPartitions { rows =>
      val (folds, keyOf) = (new Folds(ks, types), UnsafeProjection.create(groupExprs, inAttrs))
      val valueOf = UnsafeProjection.create(valueExprs, inAttrs)
      val byGroup = new java.util.LinkedHashMap[UnsafeRow, Array[Any]]
      rows.foreach { r =>
        val k = keyOf(r)
        if (!byGroup.containsKey(k)) byGroup.put(k.copy(), new Array[Any](ks.length))
        folds.addRow(byGroup.get(k), valueOf(r))
      }
      numPartials += byGroup.size
      Iterator.single(byGroup.asScala.toArray)
    }.collect()

    val (before, byGroupAll) = foldPartials(partials)
    val carrySize = longMetric("carrySize")
    carrySize += SizeEstimator.estimate((before, byGroupAll))
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY), carrySize :: Nil)

    val sort = SortExec(order, global = false, child = child)
    val peerKeys = if (ks.contains(CarryKind.PriorMax)) order.map(_.child) else Nil
    input.mapPartitionsWithIndex { (pid, rows) =>
      val (folds, keyOf) = (new Folds(ks, types), UnsafeProjection.create(groupExprs, inAttrs))
      val valueOf = UnsafeProjection.create(valueExprs, inAttrs)
      val peerOf = UnsafeProjection.create(peerKeys, inAttrs)
      val peerOrd = RowOrdering.createNaturalAscendingOrdering(peerKeys.map(_.dataType))
      val project = UnsafeProjection.create(outAttrs, outAttrs)
      val inPart = new Array[Any](ks.length) // fold of this partition's rows so far
      val atPeer = new Array[Any](ks.length) // inPart when the current peer run began
      var peer: UnsafeRow = null
      val (carried, joined) = (new GenericInternalRow(ks.length), new JoinedRow)
      sort.createSorter().sort(rows.asInstanceOf[Iterator[UnsafeRow]]).map { r =>
        val pk = peerOf(r)
        if (peer == null || peerOrd.compare(peer, pk) != 0) {
          System.arraycopy(inPart, 0, atPeer, 0, ks.length)
          peer = pk.copy()
        }
        folds.addRow(inPart, valueOf(r))
        val byGroup = byGroupAll.get(keyOf(r))
        ks.indices.foreach(i => carried.update(i, ks(i) match {
          case CarryKind.RunningSum => folds.plus(i, before(pid)(i), inPart(i))
          case CarryKind.PriorMax => folds.plus(i, before(pid)(i), atPeer(i))
          case CarryKind.GroupTotal | CarryKind.GroupOffset => byGroup(i)
        }))
        project(joined(r, carried))
      }
    }
  }

  /** Folds the collected partials in partition order into `before(pid)`,
    * the fold of every partition before pid, and a map from group key to
    * GroupTotal values and GroupOffset values: the total of the groups
    * sorting before. Both ship to the output tasks. */
  private def foldPartials(partials: Array[Array[(UnsafeRow, Array[Any])]])
      : (Array[Array[Any]], java.util.HashMap[UnsafeRow, Array[Any]]) = {
    val (ks, types) = (kinds.toArray, values.map(_.dataType).toArray)
    val folds = new Folds(ks, types)
    val acc = new Array[Any](ks.length)
    val before = partials.map { groups =>
      val carryIn = acc.clone()
      groups.foreach(g => folds.addAll(acc, g._2))
      carryIn
    }
    val byGroup = new java.util.HashMap[UnsafeRow, Array[Any]]
    partials.flatten.foreach { case (k, p) =>
      folds.addAll(byGroup.computeIfAbsent(k, _ => new Array[Any](ks.length)), p)
    }
    val offset: Array[Any] = types.map(Literal.default(_).value)
    val keyOrd = RowOrdering.createNaturalAscendingOrdering(group.map(_.dataType))
    byGroup.keySet.asScala.toSeq.sorted(keyOrd).map(byGroup.get).foreach { t =>
      ks.indices.filter(ks(_) == CarryKind.GroupOffset).foreach { i =>
        val own = t(i)
        t(i) = offset(i)
        offset(i) = folds.plus(i, offset(i), own)
      }
    }
    (before, byGroup)
  }

  override protected def withNewChildInternal(c: SparkPlan): OrderedCarryExec = copy(child = c)
}

/** User-facing entry point. */
object OrderedCarryOp {

  /** Registers the planner strategy on the session's public experimental
    * hooks (idempotent, serialized with the as-of join's registration).
    * `GraftExtensions` does the same for config-based wiring. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val exp = GraftColumnBridge.experimental(spark)
    exp.synchronized {
      if (!exp.extraStrategies.contains(OrderedCarryStrategy))
        exp.extraStrategies = exp.extraStrategies :+ OrderedCarryStrategy
    }
  }

  /** `df` plus one column per carry, folded over the global `order`
    * (sort-order columns such as `c.desc` keep their direction) and, for
    * GroupTotal/GroupOffset, per `group` key. Sums take Spark's `SUM`
    * result type. Group keys compare by their binary form and must be
    * few: the driver holds one partial per (partition, group). */
  def carry(df: DataFrame, order: Seq[Column], group: Seq[Column],
      carries: Seq[Carry]): DataFrame = {
    require(order.nonEmpty && carries.nonEmpty, "an ordered carry needs an order and a carry")
    ensureRegistered(df.sparkSession)
    // resolve every expression against df in one analysis pass
    val cols = order ++ group ++ carries.map(_.value)
    val resolved = df.select(cols.zipWithIndex.map { case (c, i) => c.as(s"_carry$i") }: _*)
      .queryExecution.analyzed.asInstanceOf[Project]
    val exprs = resolved.projectList.map { case a: Alias => a.child }
    val (orderExprs, rest) = exprs.splitAt(order.size)
    val (groupExprs, rawValues) = rest.splitAt(group.size)
    val valueExprs = carries.zip(rawValues).map {
      case (c, e) if c.kind == CarryKind.PriorMax => e
      case (_, e) => Cast(e, Sum(e).dataType)
    }
    GraftColumnBridge.ofRows(df.sparkSession, OrderedCarryPlan(
      orderExprs.map { case s: SortOrder => s; case e => SortOrder(e, Ascending) },
      groupExprs, valueExprs, carries.map(_.kind),
      carries.zip(valueExprs).map { case (c, e) => AttributeReference(c.name, e.dataType)() },
      resolved.child))
  }
}
