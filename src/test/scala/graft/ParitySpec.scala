package graft

import java.math.BigDecimal
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.ops.Parity
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType,
  StructField, StructType}

/** The cross-engine determinism helpers the whole hash gate rests on:
  * dec4 must round HALF_UP (Spark's decimal cast; DuckDB ROUND agrees,
  * banker's rounding would not) and emit DOUBLE, the driver-hasher-safe
  * output type of the round-2 normalization sweep. */
class ParitySpec extends SparkSpec {

  private def evalDec4(s: String): Double = {
    import spark.implicits._
    Seq(new BigDecimal(s)).toDF("x")
      .select(Parity.dec4(col("x")).as("r")).head().getDouble(0)
  }

  test("dec4 rounds HALF_UP at scale 4 and emits double") {
    assert(evalDec4("1.23445") == 1.2345, "half-even would give 1.2344")
    assert(evalDec4("1.23455") == 1.2346)
    assert(evalDec4("-1.23445") == -1.2345, "HALF_UP on magnitude for negatives")
    assert(evalDec4("2.0") == 2.0)
    import spark.implicits._
    val dt = Seq(new BigDecimal("1")).toDF("x")
      .select(Parity.dec4(col("x"))).schema.head.dataType
    assert(dt == org.apache.spark.sql.types.DoubleType,
      "final projections must be DOUBLE for the driver's pandas hasher")
  }

  test("out4 is the exact DuckDB mirror of dec4 on boundary values") {
    val con = Seq("1.23445", "1.23455", "-1.23445", "2.0")
    // the DuckDB side is exercised by every oracle query; here we just
    // pin the SQL template shape so a refactor can't silently drop the
    // DOUBLE cast or the decimal rounding step
    val sql = Parity.out4("x")
    assert(sql.contains("ROUND(x, 4)") && sql.contains("DECIMAL(18,4)")
      && sql.endsWith("AS DOUBLE)"), sql)
    assert(con.nonEmpty)
  }

  /** `f` over one double column holding `xs` (null allowed), in order,
    * with the result's type. */
  private def eval(f: Column => Column,
      xs: java.lang.Double*): (Seq[Any], DataType) = {
    val schema = StructType(Seq(StructField("x", DoubleType)))
    val df = spark.createDataFrame(xs.map(Row(_)).asJava, schema)
      .select(f(col("x")))
    (df.collect().toSeq.map(_.get(0)), df.schema.head.dataType)
  }

  test("fix and quant send half-ties toward +inf, unlike HALF_UP rnd") {
    val (fixed, fixType) = eval(Parity.fix(_, 1), 0.25, -0.25)
    assert(fixed == Seq(0.3, -0.2))
    assert(fixType == DoubleType)
    val (quants, quantType) = eval(Parity.quant(_, 10.0), 0.25, -0.25)
    assert(quants == Seq(3L, -2L))
    assert(quantType == LongType)
    assert(eval(Parity.rnd(_, 1), -0.25)._1 == Seq(-0.3),
      "rnd is HALF_UP: away from zero on the tie")
  }

  test("fix never emits -0.0, maps NaN to 0 and keeps null") {
    val (out, _) = eval(Parity.fix(_, 4), -0.0, -1e-9, Double.NaN, null)
    val bits = out.take(3).map(v =>
      java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double]))
    assert(bits == Seq(0L, 0L, 0L), s"expected +0.0 bits, got $out")
    assert(out(3) == null)
    assert(eval(Parity.quant(_, 1e4), Double.NaN, null)._1 == Seq(0L, null))
  }

  test("no source file outside Parity defines its own floor-rounding helper") {
    val helper = """\bdef (?:rnd\d+\w*|f?[rq]\d+)\(""".r
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .filterNot(_.getFileName.toString == "Parity.scala").toList
      finally walk.close()
    val offenders = files.flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toIndexedSeq
      lines.indices.filter { i =>
        helper.findFirstIn(lines(i)).isDefined && {
          // the def line and its more-indented continuation, comments cut
          val body = lines(i) +: lines.drop(i + 1)
            .takeWhile(l => indent(l) > indent(lines(i)))
          body.exists(_.replaceAll("//.*", "").contains("floor("))
        }
      }.map(i => s"$p:${i + 1}")
    }
    assert(offenders.isEmpty,
      s"use Parity.fix / Parity.quant instead of: ${offenders.mkString(", ")}")
  }
}
