package graft

import java.util.concurrent.atomic.AtomicInteger

import graft.ops.{PrefixSum, RangedNtile, Skyline}
import graft.plans.OrderedCarryExec
import org.apache.spark.GraftSchedulerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The ordered-carry operator behind PrefixSum, RangedNtile and Skyline:
  * frames build without running a job, the carry shows as a named plan
  * node with its own metrics, and lost shuffle output recomputes through
  * lineage instead of failing the query. */
class OrderedCarrySpec extends SparkSpec {
  import spark.implicits._

  /** Every node of an executed plan, through adaptive query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case other => other.children.flatMap(nodes)
  })

  private def orders = Tables.orders(spark, sf0001)
    .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))

  test("building carry frames with all three wrappers runs no Spark job") {
    val src = orders // the scan's own schema inference stays outside the count
    src.schema
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftSchedulerBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    val frames = try {
      val built = Seq(
        PrefixSum.withPrefixSums(src, Seq(col("o_orderkey")),
          Seq((col("o_totalprice"), "cum"))),
        PrefixSum.withPrefixSumsAndTotals(src, Seq(col("o_orderkey")),
          Seq((lit(1L), "rn")), Seq("o_orderpriority"),
          Seq((lit(1L), "n")), Seq((lit(1L), "off"))),
        RangedNtile.withNtile(src, 4, Seq(col("o_totalprice"), col("o_orderkey")), "b"),
        Skyline.skyline2(src, col("o_totalprice"), col("o_orderkey")))
      built.foreach(_.queryExecution.executedPlan)
      GraftSchedulerBridge.drainListeners(sc)
      built
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} jobs ran while building carry frames")

    frames.foreach { df =>
      df.collect()
      val carries = nodes(df.queryExecution.executedPlan).collect {
        case c: OrderedCarryExec => c
      }
      assert(carries.size == 1, df.queryExecution.executedPlan.toString)
      val m = carries.head.metrics
      assert(carries.head.nodeName == "OrderedCarry")
      assert(m("numPartials").value > 0, "partial rows metric never set")
      assert(m("carrySize").value > 0, "carry size metric never set")
    }
  }

  test("lost map output of the range shuffle recomputes through lineage") {
    val df = PrefixSum.withPrefixSums(orders,
      Seq(col("o_totalprice"), col("o_orderkey")), Seq((lit(1L), "rn")))
    // both actions run df's own plan, so the second reads the same shuffle
    def rows = df.collect().toSeq.sortBy(_.getLong(3))
    val first = rows
    val shuffles = nodes(df.queryExecution.executedPlan).collect {
      case s: ShuffleQueryStageExec
          if s.shuffle.outputPartitioning.isInstanceOf[RangePartitioning] =>
        s.shuffle.shuffleId
    }.distinct
    assert(shuffles.nonEmpty, df.queryExecution.executedPlan.toString)
    shuffles.foreach { id =>
      GraftSchedulerBridge.dropMapOutputs(id)
      assert(GraftSchedulerBridge.availableMapOutputs(id) == 0)
    }
    assert(rows == first)
    // the rerun re-registered the outputs it recomputed from lineage
    shuffles.foreach(id => assert(GraftSchedulerBridge.availableMapOutputs(id) > 0))
    assert(first.map(_.getLong(3)) == (1L to first.size.toLong))
  }

  test("running sums skip nulls like the SQL window, across partitions") {
    val df = (1L to 200L).map(i => (i, if (i % 7 == 0 || i < 30) None else Some(i % 11)))
      .toDF("id", "v")
    val got = PrefixSum.withPrefixSums(df, Seq(col("id")), Seq((col("v"), "cum")))
    val ref = df.withColumn("ref", sum("v").over(Window.orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.join(ref, Seq("id"))
      .filter(!(col("cum") <=> col("ref"))).count() == 0)
  }

  test("group offsets are the sums over the groups sorting before") {
    val df = (1L to 120L).map(i => (i, Seq("b", "a", "c")((i % 3).toInt), i % 5))
      .toDF("id", "g", "v")
    val got = PrefixSum.withPrefixSumsAndTotals(df, Seq(col("g"), col("id")),
      Seq((col("v"), "cum")), Seq("g"), Seq((col("v"), "t")), Seq((col("v"), "off")))
    val tot = df.groupBy("g").agg(sum("v").as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = Map("a" -> 0L, "b" -> tot("a"), "c" -> (tot("a") + tot("b")))
    got.select("g", "t", "off").distinct().collect().foreach { r =>
      assert(r.getLong(1) == tot(r.getString(0)) && r.getLong(2) == want(r.getString(0)), s"$r")
    }
    // the per-group running sum is the global one minus the offset
    val ref = df.withColumn("ref", sum("v").over(Window.partitionBy("g").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    assert(got.join(ref, Seq("id", "g", "v"))
      .filter(col("cum") - col("off") =!= col("ref")).count() == 0)
  }

  test("a carry frame self-joins on its carried column") {
    val c: DataFrame = PrefixSum.withPrefixSums((1L to 50L).toDF("id"),
      Seq(col("id")), Seq((lit(1L), "rn")))
    val nxt = c.select((col("rn") - 1L).as("rn"), col("id").as("next_id"))
    assert(c.join(nxt, Seq("rn")).filter(col("next_id") =!= col("id") + 1L).count() == 0)
    assert(c.join(nxt, Seq("rn")).count() == 49)
  }
}
