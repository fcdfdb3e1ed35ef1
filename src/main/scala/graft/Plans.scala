package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.window.WindowExec

/** Plan-audit artifact generator: compiles every `SparkEntry.queries`
  * entry and writes PLANS.md — per query, the physical-plan facts that
  * matter at 100 TB (exchange count, join strategies, codegen spans,
  * top-k pushdowns, nested-loop red flags). Regenerate after plan
  * changes: `scripts/run.sh graft.Plans [sfDir [outFile]]`. The same
  * facts are partially pinned as hard assertions in PlanShapeSpec; this
  * file is the full inventory for review.
  */
object Plans {
  /** Nodes of the final physical tree matching `hit`, descending into
    * adaptive plans and query stages. */
  private def countNodes(n: SparkPlan)(hit: SparkPlan => Boolean): Int = {
    val kids = n match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case qs: QueryStageExec => Seq(qs.plan)
      case other => other.children
    }
    (if (hit(n)) 1 else 0) + kids.map(countNodes(_)(hit)).sum
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = args.lift(1).getOrElse("PLANS.md")
    val spark = LocalSession(cores = 4, logLevel = "ERROR")

    def count(p: String, needle: String): Int = needle.r.findAllIn(p).size

    val rows = SparkEntry.queries.toSeq.sortBy { case (name, _) =>
      // numeric order: q2 before q10
      name.drop(1).takeWhile(_.isDigit).toInt
    }.map { case (name, fn) =>
      val df = fn(spark, sfDir)
      // collect() drives THIS queryExecution (count() would plan a new
      // one), finalizing AQE so toString shows the real stages and the
      // *(n) codegen annotations
      df.collect()
      // the adaptive plan prints final plan THEN "== Initial Plan ==";
      // count only the final section or every operator doubles
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      val joins = Seq(
        "BHJ" -> count(p, "BroadcastHashJoin"),
        "SMJ" -> count(p, "SortMergeJoin"),
        "SHJ" -> count(p, "ShuffledHashJoin"),
        "BNLJ" -> count(p, "BroadcastNestedLoop"),
        "CART" -> count(p, "CartesianProduct"),
        "ASOF" -> count(p, "AsofJoin "))
        .filter(_._2 > 0).map { case (k, n) => s"$k×$n" }.mkString(" ")
      val reuse = count(p, "ReusedExchange")
      val carry = count(p, "OrderedCarry ")
      // unpartitioned (global) windows — every row moves to ONE task; a
      // fact-sized input here is a serial stage at 100 TB. Counted from
      // the plan TREE (partitionSpec.isEmpty), not the string, and
      // pinned per query by PlanShapeSpec's global-window allowlist.
      val gwin = countNodes(df.queryExecution.executedPlan) {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      }
      val flags = Seq(
        if (p.contains("TakeOrderedAndProject")) "topK" else "",
        if (p.contains("WindowGroupLimit")) "wgl" else "",
        if (reuse > 0) s"reuse×$reuse" else "",
        if (carry > 0) s"carry×$carry" else "",
        if (gwin > 0) s"gwin×$gwin" else "",
        if (p.contains("CartesianProduct") || p.contains("BroadcastNestedLoop"))
          "NESTED-LOOP" else "")
        .filter(_.nonEmpty).mkString(" ")
      val exch = count(p, "Exchange hashpartitioning") +
        count(p, "Exchange rangepartitioning") +
        count(p, "Exchange SinglePartition")
      // whole-stage codegen spans in the final tree; the "*(n)" ids in
      // the plan string follow adaptive stage-creation order, so their
      // count moved between runs of one build
      val wsc = countNodes(df.queryExecution.executedPlan) {
        case _: WholeStageCodegenExec => true
        case _ => false
      }
      f"| $name | $exch | ${if (joins.isEmpty) "—" else joins} | $wsc | ${if (flags.isEmpty) "—" else flags} |"
    }

    val header =
      s"""# PLANS — physical-plan audit of every oracle query
         |
         |Auto-generated by `graft.Plans` on the ${sfDir.split('/').last}
         |fixtures; regenerate with `scripts/run.sh graft.Plans` after any
         |plan-affecting change. Columns: hash/range/single-partition
         |exchange count (shuffles), join strategies chosen, whole-stage
         |codegen span count, notable operators (`topK` =
         |TakeOrderedAndProject, `wgl` = WindowGroupLimit rank pushdown,
         |`reuse×N` = ReusedExchange — a repeated subtree served from one
         |shuffle instead of recomputed, `carry×N` = OrderedCarry — the
         |one-range-shuffle prefix/total operator behind PrefixSum,
         |RangedNtile and Skyline, `gwin×N` = unpartitioned
         |(global) WindowExec count — every row moves to ONE task, so
         |each such window must sit on a census/aggregate-bounded frame,
         |never fact-scale; PlanShapeSpec's global-window allowlist is
         |the executable copy of that contract,
         |`NESTED-LOOP` = cartesian/broadcast-nested-loop — expected ONLY
         |where a deliberate broadcast small-side cross join exists; the
         |sites and their counts are PlanShapeSpec's `allowedBnlj` and
         |`bnljMax`, the one copy of that contract, and its
         |"nested-loop joins appear ONLY on the PLANS.md-enumerated
         |allowlist" test fails the build on any cartesian product or any
         |off-allowlist BNLJ).
         |
         || query | exchanges | joins | codegen spans | notes |
         || --- | --- | --- | --- | --- |
         |""".stripMargin
    Files.writeString(Paths.get(out), header + rows.mkString("\n") + "\n")
    println(s"[plans] wrote ${rows.size} rows to $out")
    spark.stop()
  }
}
