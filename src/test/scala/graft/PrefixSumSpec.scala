package graft

import graft.ops.PrefixSum
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** PrefixSum vs the global-window definition on generated data, plus
  * the no-single-partition-stage plan guarantee. */
class PrefixSumSpec extends SparkSpec {
  import spark.implicits._

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(7042L + i)))

  test("matches the global running-total window on generated data") {
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.choose(-500L, 500L), Gen.choose(0L, 100L)))
    for (data <- samples(gen, 4)) {
      val df = data.zipWithIndex
        .map { case ((k, v), i) => (i.toLong, k, v) }
        .toDF("id", "k", "v")
      val ours = PrefixSum.withPrefixSums(df,
        Seq(col("k"), col("id")), Seq((col("v"), "cum")))
      val ref = df.withColumn("cum_ref", sum("v").over(
        Window.orderBy(col("k"), col("id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      assert(ours.join(ref, Seq("id", "k", "v"))
        .filter(col("cum") =!= col("cum_ref")).count() == 0)
    }
  }

  test("two sum columns accumulate independently") {
    val df = (1L to 100L).map(i => (i, i % 3, i % 5))
      .toDF("id", "a", "b")
    val got = PrefixSum.withPrefixSums(df, Seq(col("id")),
      Seq((col("a"), "ca"), (col("b"), "cb")))
      .orderBy("id").collect()
    var (ea, eb) = (0L, 0L)
    got.foreach { r =>
      ea += r.getLong(1); eb += r.getLong(2)
      assert(r.getLong(3) == ea && r.getLong(4) == eb, s"row $r")
    }
  }

  test("fused totals match a separate aggregation, per group and global") {
    val gen = Gen.listOfN(200,
      Gen.zip(Gen.choose(-500L, 500L), Gen.choose(0L, 100L),
        Gen.oneOf("a", "b", "c")))
    for (data <- samples(gen, 3)) {
      val df = data.zipWithIndex
        .map { case ((k, v, g), i) => (i.toLong, k, v, g) }
        .toDF("id", "k", "v", "g")
      // per-group totals: identical to cen.groupBy(g).agg(sum) and the
      // prefix columns identical to the plain operator
      val got = PrefixSum.withPrefixSumsAndTotals(df,
        Seq(col("k"), col("id")), Seq((col("v"), "cum")), Seq("g"),
        Seq((col("v"), "tv"), (col("v") * col("v"), "tq")))
      val tot = got.select("g", "tv", "tq").distinct()
      val refTot = df.groupBy("g")
        .agg(sum(col("v")).as("tv"), sum(col("v") * col("v")).as("tq"))
      assert(tot.join(refTot, "g")
        .filter(tot("tv") =!= refTot("tv") || tot("tq") =!= refTot("tq"))
        .count() == 0)
      assert(tot.count() == refTot.count())
      val plain = PrefixSum.withPrefixSums(df,
        Seq(col("k"), col("id")), Seq((col("v"), "cum")))
      assert(got.join(plain.withColumnRenamed("cum", "cum_ref"),
        Seq("id", "k", "v", "g"))
        .filter(col("cum") =!= col("cum_ref")).count() == 0)
      // global (group-less) totals: one row, SQL SUM semantics
      val gtot = PrefixSum.withPrefixSumsAndTotals(df,
        Seq(col("k"), col("id")), Seq((col("v"), "cum")), Nil,
        Seq((col("v"), "tv"))).select("tv").distinct()
      val exp = df.agg(sum("v")).collect()(0).getLong(0)
      val grow = gtot.collect()
      assert(grow.length == 1 && grow(0).getLong(0) == exp)
    }
  }

  test("fused decimal totals stay exact") {
    val dec = "decimal(38,0)"
    val df = (1L to 50L).map(i => (i, i % 4)).toDF("id", "g")
    val tot = PrefixSum.withPrefixSumsAndTotals(df, Seq(col("id")),
      Seq((lit(1L), "rn")), Nil,
      Seq((col("id").cast(dec) * col("id").cast(dec), "sq")))
      .select("sq").distinct()
    val exp = (1L to 50L).map(i => BigInt(i) * BigInt(i)).sum
    assert(BigInt(tot.collect()(0).getDecimal(0).toBigInteger) == exp)
  }

  test("plan has no single-partition global sort") {
    val df = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), lit(1L).as("one"))
    val ps = PrefixSum.withPrefixSums(df, Seq(col("o_orderkey")),
      Seq((col("one"), "cum")))
    ps.collect()
    val plan = ps.queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"prefix sum must stay parallel:\n$plan")
  }
}
