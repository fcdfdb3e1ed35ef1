package graft

import java.math.BigDecimal
import java.nio.file.{Files, Path, Paths}

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

  private def mainSources: List[Path] = {
    val walk = Files.walk(Paths.get("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no source file outside Parity defines its own floor-rounding helper") {
    val helper = """\bdef (?:rnd\d+\w*|f?[rq]\d+)\(""".r
    def indent(l: String) = l.takeWhile(_ == ' ').length
    val files =
      mainSources.filterNot(_.getFileName.toString == "Parity.scala")
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

  test("fixSql and quantSql spell the rounding forms they stand for") {
    assert(Parity.fixSql("x / n", 4) == "FLOOR(x / n * 1e4 + 0.5) / 1e4")
    assert(Parity.quantSql("LN(x)", 9) ==
      "CAST(FLOOR(LN(x) * 1e9 + 0.5) AS BIGINT)")
  }

  test("no source file outside Parity spells a fixSql or quantSql form") {
    val floorOpen = """(?i)\bFLOOR\(""".r
    val scaled = """(?i)\* ?1e(\d+) ?\+ ?0\.5 ?$""".r.unanchored
    val bigint = """(?i)^ ?AS BIGINT ?\)""".r.unanchored
    val castOpen = """(?i)CAST\( ?$""".r.unanchored
    val files =
      mainSources.filterNot(_.getFileName.toString == "Parity.scala")
    val offenders = files.flatMap { p =>
      // margins and line breaks collapse, so a form split across
      // stripMargin lines is still one match
      val t = new String(Files.readAllBytes(p), "UTF-8")
        .replaceAll("""\n\s*\|""", " ").replaceAll("""\s+""", " ")
      floorOpen.findAllMatchIn(t).flatMap { m =>
        var depth = 0
        val close = (m.end - 1 until t.length).find { j =>
          if (t(j) == '(') depth += 1
          if (t(j) == ')') depth -= 1
          depth == 0
        }.getOrElse(t.length - 1)
        val rest = t.substring(close + 1)
        t.substring(m.end, close) match {
          case scaled(n) if rest.matches(s"(?s) ?/ ?1e$n(?!\\d).*") ||
              (castOpen.findFirstIn(t.substring(0, m.start)).isDefined &&
                bigint.findFirstIn(rest).isDefined) =>
            Some(s"${p.getFileName}: ${t.substring(m.start, close + 1)}")
          case _ => None
        }
      }
    }
    assert(offenders.isEmpty, "use Parity.fixSql / Parity.quantSql " +
      s"instead of: ${offenders.take(5).mkString("; ")}")
  }

  test("each shared sample is spelled only inside its owning builder") {
    // needle -> the (file, object member) pairs allowed to spell it; a
    // needle may span two lines, read with margins and whitespace
    // collapsed
    val owners = Map(
      """collect_set(col("l_partkey"))""" ->
        Set("GraphQueries.scala" -> "partBaskets"),
      "transform(slice(" -> Set("GraphQueries.scala" -> "basketPairs",
        // a triple expansion, not the pair expansion
        "AggQueries.scala" -> "q199Itemsets3"),
      """col("tmax") - 365""" -> Set("SeriesStats.scala" -> "trailingYear"),
      """floor(col("o_totalprice") + 0.5).cast("long")).as("rev")""" -> Set(
        "SeriesStats.scala" -> "daily", "SeriesStats.scala" -> "daily2",
        "KSampleTests.scala" -> "completeBlocks"),
      "12L * 3600L * 1000000L" -> Set("SurvivalQueries.scala" -> "lifetimes"),
      "43200000000" -> Set("SurvivalQueries.scala" -> "lifetimesSql"),
      """coalesce(sum(col("d") + col("c")).over(""" ->
        Set("SurvivalQueries.scala" -> "riskTable"),
      "COALESCE(SUM(d + c) OVER" ->
        Set("SurvivalQueries.scala" -> "riskTableSql"),
      """coalesce(sum(col("d1") + col("c1")).over(""" ->
        Set("SurvivalQueries.scala" -> "armRiskTable"),
      "COALESCE(SUM(d1 + c1) OVER" ->
        Set("SurvivalQueries.scala" -> "armRiskTableSql"),
      """.select(col("c_custkey"), col("c_mktsegment")))""" ->
        Set("LocationTests.scala" -> "segmentOrders"),
      """.groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))""" ->
        Set("DriftQueries.scala" -> "customerCents"),
      "SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS c" ->
        Set("DriftQueries.scala" -> "customerCentsSql"),
      """.select(col("c_mktsegment").as("seg"), """ +
        """floor(col("o_totalprice") + 0.5).cast("long").as("v"))""" ->
        Set("KSampleTests.scala" -> "segmentDollars"),
      "SELECT c_mktsegment AS seg, CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)" +
        " AS v" -> Set("KSampleTests.scala" -> "segmentDollarsSql"),
      """(col("o_orderdate") >= lit("1999-01-01")""" ->
        Set("DriftQueries.scala" -> "oldNewCents"),
      "o_orderdate >= TIMESTAMP '1999-01-01' AS is_new" ->
        Set("DriftQueries.scala" -> "oldNewCentsSql"),
      """count(when(!col("is_new"), 1)).as("cx"))""" ->
        Set("DriftQueries.scala" -> "oldNewCensus"),
      "COUNT(*) FILTER (WHERE NOT is_new) AS cx" ->
        Set("DriftQueries.scala" -> "oldNewCensusSql"),
      """(col("o_orderpriority") === "1-URGENT").cast("long").as("g1"))""" ->
        Set("InferenceDiagnostics.scala" -> "urgentCentsCensus"),
      "CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)" +
        " AS BIGINT) AS c1" ->
        Set("InferenceDiagnostics.scala" -> "urgentCentsCensusSql"),
      """datediff(col("day"), lit("1995-01-01"))""" ->
        Set("SeriesStats.scala" -> "dayIndexed"),
      "date_diff('day', DATE '1995-01-01', day)" ->
        Set("SeriesStats.scala" -> "dayIndexedSql"),
      """.groupBy(col("n_chars").as("sc"))""" ->
        Set("ScoreEvalQueries.scala" -> "lengthHistogram"),
      "SELECT n_chars AS sc, COUNT(*) AS n," ->
        Set("ScoreEvalQueries.scala" -> "lengthHistogramSql"),
      """d.select(col("lang").as("ql")).distinct()""" ->
        Set("RetrievalQueries.scala" -> "langRanking"),
      "ORDER BY n_chars DESC, doc_id) AS rk" ->
        Set("RetrievalQueries.scala" -> "langRankingSql"),
      """sum(expr("cast(round(l_quantity) as bigint)"))""" -> Set(
        "RegressionQueries.scala" -> "perOrder",
        // a per-part census, not the per-order one
        "CorpusQueries.scala" -> "q284Rbo"),
      "CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT)" -> Set(
        "RegressionQueries.scala" -> "perOrderSql",
        "CorpusQueries.scala" -> "q284RboSql"),
      """sum(d("x1") * d("y")).as("s1y")""" ->
        Set("RegressionQueries.scala" -> "gram"),
      "CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y" ->
        Set("RegressionQueries.scala" -> "gramSql"),
      """sum(col("qj")).over(wAll)""" ->
        Set("KSampleTests.scala" -> "anovaTable"),
      "SUM(qj) OVER ()" -> Set("KSampleTests.scala" -> "anovaTableSql"),
      """sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy")""" -> Set(
        "SeriesStats.scala" -> "pairSums",
        // trivariate moments, not the pair sums
        "InferenceDiagnostics.scala" -> "q293PartialCorr"),
      "CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy" ->
        Set("SeriesStats.scala" -> "pairSumsSql"),
      """(col("c_mktsegment") === "BUILDING").as("ga")""" ->
        Set("LocationTests.scala" -> "buildingDollars"),
      "c_mktsegment = 'BUILDING' AS ga" ->
        Set("LocationTests.scala" -> "buildingDollarsSql"),
      """year(col("o_orderdate")) * 100""" ->
        Set("SketchQueries.scala" -> "monthKey"),
      """year(col("o_orderdate")) * 10 +""" ->
        Set("SketchQueries.scala" -> "quarterKey"),
      "date_part('year', o_orderdate) * 100" ->
        Set("SketchQueries.scala" -> "monthKeySql"),
      "date_part('year', o_orderdate) * 10 +" ->
        Set("SketchQueries.scala" -> "quarterKeySql"),
      """explode(sequence(col("d0"), col("d1")))""" ->
        Set("PipelineQueries.scala" -> "prioritySpine"),
      "INTERVAL 1 DAY)) AS DATE) AS day FROM span" ->
        Set("PipelineQueries.scala" -> "prioritySpineSql"),
      "pmod(key * 2654435761L, lit(1700L))" ->
        Set("SpatialStats.scala" -> "gridLat"),
      "pmod(key * 1103515245L + 12345L, lit(3600L))" ->
        Set("SpatialStats.scala" -> "gridLon"),
      "* 2654435761) % 1700 + 1700) % 1700" ->
        Set("SpatialStats.scala" -> "gridLatSql"),
      "* 1103515245 + 12345) % 3600 + 3600) % 3600" ->
        Set("SpatialStats.scala" -> "gridLonSql"),
      """.cast("int").as("cx")""" ->
        Set("SpatialStats.scala" -> "customerGrid"),
      "AS INTEGER) AS cx" -> Set("SpatialStats.scala" -> "customerGridSql"),
      """element_at(split(col("p_name"), " "), 2)""" ->
        Set("DedupQueries.scala" -> "namePairs"),
      "ON string_split(a.p_name, ' ')[2]" ->
        Set("DedupQueries.scala" -> "namePairsSql"),
      """when(col("n_chars") >= 100, 1L)""" ->
        Set("EvalQueries.scala" -> "raters"),
      "CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END" ->
        Set("EvalQueries.scala" -> "ratersSql"))
    val member = """^  (?:private(?:\[\w+\])? )?(?:def|val) (\w+)""".r.unanchored
    def flat(line: String) =
      line.trim.stripPrefix("|").trim.replaceAll("""\s+""", " ")
    val offenders = for {
      p <- mainSources
      lines = Files.readAllLines(p).asScala.toIndexedSeq
      i <- lines.indices
      next = if (i + 1 < lines.size) flat(lines(i + 1)) else ""
      (needle, allowed) <- owners
      // counted once, on the line where it starts
      if (flat(lines(i)) + " " + next).contains(needle) &&
        !next.contains(needle)
      owner = lines.take(i + 1).reverseIterator.collectFirst {
        case member(m) => m
      }
      if !owner.exists(m => allowed(p.getFileName.toString -> m))
    } yield s"$p:${i + 1} spells $needle"
    assert(offenders.isEmpty,
      s"use the family's builder instead of: ${offenders.mkString(", ")}")
  }
}
