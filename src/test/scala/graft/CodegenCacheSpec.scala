package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Spark's codegen cache holds more than the last few queries' classes:
  * at its default of 100 entries, 150 one-stage queries evict the first
  * ten, and running those again recompiles them. */
class CodegenCacheSpec extends SparkSpec {

  test("queries rerun after 150 others reuse their compiled code") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    // each literal pair yields its own generated source
    def run(i: Int): Unit = spark.range(10).selectExpr(s"id * $i + $i").collect()
    val c0 = compiles
    (1 to 150).foreach(run)
    val c1 = compiles
    assert(c1 - c0 >= 150, s"150 distinct queries compiled only ${c1 - c0} classes")
    (1 to 10).foreach(run)
    assert(compiles == c1, s"rerunning 10 cached queries compiled ${compiles - c1} classes")
  }

  test("a stage compiled under one codegen stage id is reused under another") {
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val x = spark.range(10).selectExpr("id * 9001 + 17")
    val y = spark.range(10).selectExpr("id * 9002 + 19")
    x.collect()
    y.collect()
    val c = compiles
    // y is codegen stage 1 of the union, and x, stage 1 on its own, is stage 2
    y.union(x).collect()
    assert(compiles == c, s"x's code under a new stage id compiled ${compiles - c} classes")
  }
}
