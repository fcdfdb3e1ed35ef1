package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import StatFns.{asTwoSidedP, asTwoSidedPSql}

/** TWO-sample and paired location/rank tests, split out of
  * HypothesisTestQueries in round 15 and trimmed again in round 17
  * (the k-sample/blocked members moved to [[KSampleTests]] when this
  * file hit 1,731 lines — the same review-locality seam as the
  * r14–r16 splits). Family: two-sample location tests (parametric
  * and rank-based: q210 Mann–Whitney, q231 Welch, q367
  * Brunner–Munzel, q371 BWS), paired designs (q260 Wilcoxon
  * signed-rank, q361 TOST equivalence), and their effect sizes
  * (q247, q250). Contingency-table / goodness-of-fit / multiple-
  * testing members stay in HypothesisTestQueries. Every member keeps
  * its original discipline: a DuckDB mirror from the same census
  * algebra, a StatBruteSpec sequential reference, and a
  * NonDegeneracySpec invariant; all collapse fact data map-side to
  * value/group censuses (+ [[PrefixSum]] for global cumulatives)
  * before any window or join, so nothing scans more than once or
  * sorts fact-sized data on one partition.
  */
object LocationTests {

  /** The URGENT-vs-LOW two-group sample as its value census: per
    * int64-cents order price `c`, the order count `n` and the 1-URGENT
    * count `n1` over orders of priority 1-URGENT or 5-LOW (q210, q250,
    * q385). [[urgentLowCensusSql]] is its oracle twin; the two change
    * together. */
  private[ops] def urgentLowCensus(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(Parity.quant(col("o_totalprice"), 100.0).as("c"),
        when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("g1"))
      .groupBy("c")
      .agg(count(lit(1)).as("n"), sum(col("g1")).as("n1"))

  /** The `f` and `cen` CTEs, the oracle twin of [[urgentLowCensus]];
    * the two change together. */
  private[ops] val urgentLowCensusSql: String =
    """f AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS g1
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |cen AS (
      |  SELECT c, COUNT(*) AS n, CAST(SUM(g1) AS BIGINT) AS n1
      |  FROM f GROUP BY c)""".stripMargin

  /** Orders joined to their customer's market segment `c_mktsegment`
    * (a broadcast dimension join), the base of every segment sample.
    * [[segmentOrdersSql]] is its oracle twin; the two change together. */
  private[ops] def segmentOrders(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))

  /** The `FROM` clause, the oracle twin of [[segmentOrders]]; the two
    * change together. */
  private[ops] val segmentOrdersSql: String =
    "FROM orders JOIN customer ON o_custkey = c_custkey"

  /** The BUILDING-vs-FURNITURE two-group sample: [[segmentOrders]]
    * kept for those two segments. Callers project their own segment
    * flag and price (q231, q244, q247, q303, q361).
    * [[buildingFurnitureSql]] is its oracle twin; the two change
    * together. */
  private[ops] def buildingFurniture(s: SparkSession, dir: String): DataFrame =
    segmentOrders(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "FURNITURE"))

  /** The `FROM … WHERE` clause, the oracle twin of
    * [[buildingFurniture]]; the two change together. */
  private[ops] val buildingFurnitureSql: String =
    s"""$segmentOrdersSql
      |  WHERE c_mktsegment IN ('BUILDING', 'FURNITURE')""".stripMargin

  /** The whole-dollar two-group sample: over [[buildingFurniture]],
    * the flag `ga` (BUILDING) and the order price rounded half-up to
    * an int64 dollar `v` (q231, q247, q303, q361).
    * [[buildingDollarsSql]] is its oracle twin; the two change
    * together. */
  private[ops] def buildingDollars(s: SparkSession, dir: String): DataFrame =
    buildingFurniture(s, dir)
      .select((col("c_mktsegment") === "BUILDING").as("ga"),
        floor(col("o_totalprice") + 0.5).cast("long").as("v"))

  /** The oracle twin of [[buildingDollars]]; the two change together. */
  private[ops] val buildingDollarsSql: String =
    s"""SELECT c_mktsegment = 'BUILDING' AS ga,
      |    CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
      |  $buildingFurnitureSql""".stripMargin

  /** L147 Mann–Whitney U rank-sum test (Mann & Whitney 1947 [PK]):
    * does the URGENT order population spend differently from the LOW
    * one? The NONPARAMETRIC two-sample location test — q172's z-test
    * compares binomial rates, this compares whole DISTRIBUTIONS by
    * rank, robust to the heavy price tails that invalidate a t-test.
    *
    * Exactness: prices pin to int64 cents; the value census carries
    * per-value n and group-1 n₁; average ranks ride DOUBLED units
    * (2·r̄ = 2·cum − n + 1 — integer even where the average is x.5),
    * so 2·U₁ = Σn₁·(2r̄) − n₁(n₁+1) is exact 128-bit integer on both
    * engines (Spark DECIMAL(38,0) / DuckDB HUGEINT), as is the tie
    * term Σ(t³−t). The normal-approximation z (tie-corrected variance)
    * is one identical double chain, 4dp.
    *
    * Scale: the census is a map-side-combinable value group-by; the
    * global cumulative over it runs through [[PrefixSum]]'s two-phase
    * kernel (range partition + per-partition offsets) — NO
    * single-partition window anywhere; the oracle SQL's sequential
    * window is the semantic mirror only. */
  def q210MannWhitney(s: SparkSession, dir: String): DataFrame = {
    val cen = urgentLowCensus(s, dir)
    val cum = graft.ops.PrefixSum.withPrefixSums(cen,
      Seq(col("c")), Seq((col("n"), "cumn")))
    val g = cum.agg(
      sum(col("n1")).as("n1t"),
      sum(col("n") - col("n1")).as("n2t"),
      sum(col("n1").cast(dec) *
        (col("cumn") * 2 - col("n") + 1).cast(dec)).as("r2s"),
      sum(col("n").cast(dec) * col("n").cast(dec) * col("n").cast(dec) -
        col("n").cast(dec)).as("tie"))
    val u2 = col("r2s") - col("n1t").cast(dec) * (col("n1t") + 1).cast(dec)
    val nt = (col("n1t") + col("n2t")).cast("double")
    g.select(col("n1t").as("n_urgent"), col("n2t").as("n_low"),
      u2.cast("long").as("u2_urgent"),
      col("tie").cast("long").as("tie_term"),
      (round((u2.cast("double") / 2.0 -
        col("n1t").cast("double") * col("n2t").cast("double") / 2.0) /
        sqrt((col("n1t").cast("double") * col("n2t").cast("double") / 12.0) *
          ((nt + 1.0) - col("tie").cast("double") / (nt * (nt - 1.0)))), 4)
        + 0.0).as("z"))
  }


  val q210MannWhitneySql: String =
    s"""WITH $urgentLowCensusSql,
      |cum AS (
      |  SELECT c, n, n1,
      |    SUM(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING) AS cumn
      |  FROM cen),
      |g AS (
      |  SELECT CAST(SUM(n1) AS BIGINT) AS n1t,
      |    CAST(SUM(n - n1) AS BIGINT) AS n2t,
      |    SUM(CAST(n1 AS HUGEINT) * (2 * cumn - n + 1)) AS r2s,
      |    SUM(CAST(n AS HUGEINT) * n * n - n) AS tie
      |  FROM cum)
      |SELECT n1t AS n_urgent, n2t AS n_low,
      |  CAST(r2s - CAST(n1t AS HUGEINT) * (n1t + 1) AS BIGINT) AS u2_urgent,
      |  CAST(tie AS BIGINT) AS tie_term,
      |  ROUND((CAST(r2s - CAST(n1t AS HUGEINT) * (n1t + 1) AS DOUBLE) / 2.0
      |      - CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 2.0)
      |    / SQRT((CAST(n1t AS DOUBLE) * CAST(n2t AS DOUBLE) / 12.0)
      |      * ((CAST(n1t + n2t AS DOUBLE) + 1.0)
      |        - CAST(tie AS DOUBLE) / (CAST(n1t + n2t AS DOUBLE)
      |          * (CAST(n1t + n2t AS DOUBLE) - 1.0)))), 4) + 0 AS z
      |FROM g""".stripMargin


  /** L165 Welch's unequal-variance t-test (Welch 1947 [PK]): BUILDING
    * vs FURNITURE order values — the two-sample location test that
    * does NOT assume equal variances (q228's pooled ANOVA does), with
    * the Welch–Satterthwaite effective df. The robust default for
    * comparing two segments' spend.
    *
    * Parity: values ride whole dollars (q228 pin); per-group n/Σv/Σv²
    * are exact int64/DECIMAL(38,0); means, variances, t, and df are
    * ONE identical double chain on both engines (S² exceeds 2⁵³ at
    * large SF, so parity rests on the identical chain, not exactness —
    * the q227 doc discipline), 4dp displayed.
    *
    * Scale: one map-side-combinable 2-group moment agg; everything
    * after is 1-row algebra. */
  def q231WelchTtest(s: SparkSession, dir: String): DataFrame = {
    val o = buildingDollars(s, dir)
    val g = o.groupBy("ga")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("sv"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("qv"))
    val piv = g.agg(
      max(when(col("ga"), col("n"))).as("n_a"),
      max(when(col("ga"), col("sv"))).as("s_a"),
      max(when(col("ga"), col("qv"))).as("q_a"),
      max(when(!col("ga"), col("n"))).as("n_b"),
      max(when(!col("ga"), col("sv"))).as("s_b"),
      max(when(!col("ga"), col("qv"))).as("q_b"))
    def m(sv: String, n: String) = col(sv).cast("double") / col(n)
    def va(qv: String, sv: String, n: String) =
      (col(qv).cast("double") -
        col(sv).cast("double") * col(sv).cast("double") / col(n)) /
        (col(n) - lit(1.0))
    val (ma, mb) = (m("s_a", "n_a"), m("s_b", "n_b"))
    val (sea, seb) = (va("q_a", "s_a", "n_a") / col("n_a"),
      va("q_b", "s_b", "n_b") / col("n_b"))
    val t = (ma - mb) / sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (col("n_a") - lit(1.0)) +
        seb * seb / (col("n_b") - lit(1.0)))
    piv.select(col("n_a"), col("n_b"),
      (round(ma, 4) + 0.0).as("mean_a"),
      (round(mb, 4) + 0.0).as("mean_b"),
      (round(t, 4) + 0.0).as("t_stat"),
      (round(df, 4) + 0.0).as("df"))
  }


  val q231WelchTtestSql: String =
    s"""WITH o AS ($buildingDollarsSql),
      |g AS (
      |  SELECT ga, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
      |    SUM(CAST(v AS HUGEINT) * v) AS qv
      |  FROM o GROUP BY ga),
      |piv AS (
      |  SELECT
      |    MAX(CASE WHEN ga THEN n END) AS n_a,
      |    MAX(CASE WHEN ga THEN sv END) AS s_a,
      |    MAX(CASE WHEN ga THEN qv END) AS q_a,
      |    MAX(CASE WHEN NOT ga THEN n END) AS n_b,
      |    MAX(CASE WHEN NOT ga THEN sv END) AS s_b,
      |    MAX(CASE WHEN NOT ga THEN qv END) AS q_b
      |  FROM g),
      |c AS (
      |  SELECT n_a, n_b,
      |    CAST(s_a AS DOUBLE) / n_a AS ma,
      |    CAST(s_b AS DOUBLE) / n_b AS mb,
      |    (CAST(q_a AS DOUBLE)
      |      - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
      |      / (n_a - 1.0) / n_a AS sea,
      |    (CAST(q_b AS DOUBLE)
      |      - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b)
      |      / (n_b - 1.0) / n_b AS seb
      |  FROM piv)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(ma, 4) + 0 AS mean_a, ROUND(mb, 4) + 0 AS mean_b,
      |  ROUND((ma - mb) / SQRT(sea + seb), 4) + 0 AS t_stat,
      |  ROUND((sea + seb) * (sea + seb)
      |    / (sea * sea / (n_a - 1.0) + seb * seb / (n_b - 1.0)), 4) + 0
      |    AS df
      |FROM c""".stripMargin


  /** L181 standardized effect sizes (Cohen 1988, Hedges 1981 [PK]):
    * Cohen's d on the q231 two-segment design (pooled SD), Hedges'
    * small-sample correction g = J·d with J = 1 − 3/(4N−9), and the
    * 95% CI of d — the "is it LARGE, not just significant" companion
    * every q231/q172-style test needs at fixture-to-fleet scale,
    * where p-values saturate long before effects matter.
    *
    * Parity: the q231 exact moments verbatim; d/J/g/CI are one
    * identical double chain, 6dp.
    *
    * Scale: the q231 shape — one 2-group moment agg, 1-row algebra. */
  def q247EffectSize(s: SparkSession, dir: String): DataFrame = {
    val o = buildingDollars(s, dir)
    val g = o.groupBy("ga")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("sv"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("qv"))
    val piv = g.agg(
      max(when(col("ga"), col("n"))).as("n_a"),
      max(when(col("ga"), col("sv"))).as("s_a"),
      max(when(col("ga"), col("qv"))).as("q_a"),
      max(when(!col("ga"), col("n"))).as("n_b"),
      max(when(!col("ga"), col("sv"))).as("s_b"),
      max(when(!col("ga"), col("qv"))).as("q_b"))
    def ss(qv: String, sv: String, n: String) =
      col(qv).cast("double") -
        col(sv).cast("double") * col(sv).cast("double") / col(n)
    val nT = (col("n_a") + col("n_b")).cast("double")
    val sp = sqrt((ss("q_a", "s_a", "n_a") + ss("q_b", "s_b", "n_b")) /
      (nT - 2.0))
    val dEff = (col("s_a").cast("double") / col("n_a") -
      col("s_b").cast("double") / col("n_b")) / sp
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * nT - 9.0)
    val seD = sqrt(nT / (col("n_a").cast("double") * col("n_b")) +
      dEff * dEff / (lit(2.0) * nT))
    piv.select(col("n_a"), col("n_b"),
      (round(sp, 4) + 0.0).as("pooled_sd"),
      (round(dEff, 6) + 0.0).as("cohens_d"),
      (round(j * dEff, 6) + 0.0).as("hedges_g"),
      (round(dEff - lit(1.96) * seD, 6) + 0.0).as("d_ci_lo"),
      (round(dEff + lit(1.96) * seD, 6) + 0.0).as("d_ci_hi"))
  }


  val q247EffectSizeSql: String =
    s"""WITH o AS ($buildingDollarsSql),
      |g AS (
      |  SELECT ga, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
      |    SUM(CAST(v AS HUGEINT) * v) AS qv
      |  FROM o GROUP BY ga),
      |piv AS (
      |  SELECT
      |    MAX(CASE WHEN ga THEN n END) AS n_a,
      |    MAX(CASE WHEN ga THEN sv END) AS s_a,
      |    MAX(CASE WHEN ga THEN qv END) AS q_a,
      |    MAX(CASE WHEN NOT ga THEN n END) AS n_b,
      |    MAX(CASE WHEN NOT ga THEN sv END) AS s_b,
      |    MAX(CASE WHEN NOT ga THEN qv END) AS q_b
      |  FROM g),
      |c AS (
      |  SELECT n_a, n_b,
      |    SQRT(((CAST(q_a AS DOUBLE)
      |        - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE) / n_a)
      |      + (CAST(q_b AS DOUBLE)
      |        - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE) / n_b))
      |      / (CAST(n_a + n_b AS DOUBLE) - 2.0)) AS sp,
      |    CAST(s_a AS DOUBLE) / n_a - CAST(s_b AS DOUBLE) / n_b AS md,
      |    CAST(n_a + n_b AS DOUBLE) AS nt
      |  FROM piv),
      |e AS (
      |  SELECT n_a, n_b, sp, nt, md / sp AS d,
      |    SQRT(nt / (CAST(n_a AS DOUBLE) * n_b)
      |      + (md / sp) * (md / sp) / (2.0 * nt)) AS sed
      |  FROM c)
      |SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      |  ROUND(sp, 4) + 0 AS pooled_sd,
      |  ROUND(d, 6) + 0 AS cohens_d,
      |  ROUND((1.0 - 3.0 / (4.0 * nt - 9.0)) * d, 6) + 0 AS hedges_g,
      |  ROUND(d - 1.96 * sed, 6) + 0 AS d_ci_lo,
      |  ROUND(d + 1.96 * sed, 6) + 0 AS d_ci_hi
      |FROM e""".stripMargin


  /** L184 Cliff's delta (Cliff 1993 [PK]; Romano magnitude bands):
    * the ordinal effect size for q210's URGENT-vs-LOW design —
    * δ = P(X>Y) − P(X<Y) = 2U/(n₁n₂) − 1, read straight off the
    * doubled-rank U. q210 says whether the groups differ; q247's d
    * assumes intervals; δ is the assumption-free magnitude on ranks
    * (the pair q210 should always be reported with).
    *
    * Parity: U2 = 2U is exact int64/DECIMAL from the doubled-rank
    * census (average ranks make ties count half, the standard δ tie
    * convention); δ is one exact-int division displayed 6dp; the
    * Romano band is an integer decision on micro-quantized |δ|.
    *
    * Scale: the q210 shape verbatim — census + [[PrefixSum]], no
    * fact-data sort. */
  def q250CliffsDelta(s: SparkSession, dir: String): DataFrame = {
    val cen = urgentLowCensus(s, dir)
    val cum = graft.ops.PrefixSum.withPrefixSums(cen,
      Seq(col("c")), Seq((col("n"), "cumn")))
    val g = cum.agg(
      sum(col("n1")).as("n1t"),
      sum(col("n") - col("n1")).as("n2t"),
      sum(col("n1").cast(dec) *
        (col("cumn") * 2 - col("n") + 1).cast(dec)).as("r2s"))
    val u2 = col("r2s") - col("n1t").cast(dec) * (col("n1t") + 1).cast(dec)
    val delta = u2.cast("double") /
      (col("n1t").cast("double") * col("n2t")) - lit(1.0)
    val adq = Parity.quant(abs(delta), 1e6)
    g.select(col("n1t").as("n_urgent"), col("n2t").as("n_low"),
      (round(delta, 6) + 0.0).as("cliffs_delta"),
      when(adq < 147000L, "negligible")
        .when(adq < 330000L, "small")
        .when(adq < 474000L, "medium")
        .otherwise("large").as("magnitude"))
  }


  val q250CliffsDeltaSql: String =
    s"""WITH $urgentLowCensusSql,
      |cum AS (
      |  SELECT *, CAST(SUM(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
      |    AS BIGINT) AS cumn
      |  FROM cen),
      |g AS (
      |  SELECT CAST(SUM(n1) AS BIGINT) AS n1t,
      |    CAST(SUM(n - n1) AS BIGINT) AS n2t,
      |    SUM(CAST(n1 AS HUGEINT) * (cumn * 2 - n + 1)) AS r2s
      |  FROM cum),
      |d AS (
      |  SELECT n1t, n2t,
      |    CAST(r2s - CAST(n1t AS HUGEINT) * (n1t + 1) AS DOUBLE)
      |      / (CAST(n1t AS DOUBLE) * n2t) - 1.0 AS delta
      |  FROM g)
      |SELECT n1t AS n_urgent, n2t AS n_low,
      |  ROUND(delta, 6) + 0 AS cliffs_delta,
      |  CASE WHEN FLOOR(abs(delta) * 1e6 + 0.5) < 147000 THEN 'negligible'
      |    WHEN FLOOR(abs(delta) * 1e6 + 0.5) < 330000 THEN 'small'
      |    WHEN FLOOR(abs(delta) * 1e6 + 0.5) < 474000 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM d""".stripMargin


  /** L199 Wilcoxon signed-rank test (Wilcoxon 1945 [PK]) on paired
    * customer spend: each customer active in BOTH halves of the corpus
    * (orders before and after 1998-01-01) contributes one integer
    * difference d = round(late mean cents) − round(early mean cents);
    * zero differences drop (the standard convention), |d| gets average
    * ranks, W⁺ = Σ ranks of positive d, z with the tie-corrected
    * variance. The PAIRED location test the q210/q231 two-sample tests
    * cannot replace — the customer is their own control, so
    * between-customer spread cancels.
    *
    * Parity: the q210/q250 doubled-rank census discipline — |d| census
    * + one [[PrefixSum]], doubled average ranks exact int64,
    * 2W⁺ and the ×12-scaled variance numerator exact DECIMAL/HUGEINT;
    * z one double chain; p the shared A-S kernel at 1e-8.
    *
    * Scale: per-customer agg → |d| census (≤ distinct |d| rows) →
    * PrefixSum → 1-row algebra. Guards: no nonzero pairs, or an
    * all-tied |d| census (variance numerator ≤ 0), → null. */
  def q260WilcoxonSignedRank(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"),
        (col("o_orderdate") >= lit("1998-01-01").cast("timestamp"))
          .as("late"),
        Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val peru = o.groupBy("o_custkey")
      .agg(sum(when(!col("late"), col("c"))).as("se"),
        count(when(!col("late"), 1)).as("ne"),
        sum(when(col("late"), col("c"))).as("sl"),
        count(when(col("late"), 1)).as("nl"))
      .filter(col("ne") > 0 && col("nl") > 0)
      .select((floor(col("sl").cast("double") / col("nl") + 0.5) -
        floor(col("se").cast("double") / col("ne") + 0.5))
        .cast("long").as("d"))
      .filter(col("d") =!= 0)
    val cen = peru.groupBy(abs(col("d")).as("ad"))
      .agg(count(lit(1)).as("cnt"),
        sum(when(col("d") > 0, 1L).otherwise(0L)).as("pos"))
    val cum = graft.ops.PrefixSum.withPrefixSums(cen,
      Seq(col("ad")), Seq((col("cnt"), "cum")))
    val g = cum.agg(sum(col("cnt")).as("n"),
      sum(col("pos").cast(dec) *
        (col("cum") * 2 - col("cnt") + 1).cast(dec)).as("w2"),
      sum(col("cnt").cast(dec) * col("cnt").cast(dec) *
        col("cnt").cast(dec) - col("cnt").cast(dec)).as("ties"))
    val nD = col("n").cast("double")
    val num2 = col("w2").cast("double") - nD * (nD + 1.0) / 2.0
    val var4x12 = nD * (nD + 1.0) * (nD * 2.0 + 1.0) * 2.0 -
      col("ties").cast("double")
    val z = num2 / sqrt(var4x12 / 12.0)
    val bad = col("n") < 2 || var4x12 <= 0.0
    g.select(col("n").as("n_pairs"),
      (col("w2").cast("double") / 2.0).as("w_plus"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(z, 4) + 0.0).as("z"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(asTwoSidedP(z), 8)).as("p"))
  }


  val q260WilcoxonSignedRankSql: String = {
    val num2 = "(CAST(w2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1.0) / 2.0)"
    val v12 = "(CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0) * 2.0" +
      " - CAST(ties AS DOUBLE))"
    val z = s"($num2 / SQRT($v12 / 12.0))"
    s"""WITH o AS (
       |  SELECT o_custkey,
       |    o_orderdate >= TIMESTAMP '1998-01-01' AS late,
       |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
       |  FROM orders),
       |peru AS (
       |  SELECT
       |    CAST(FLOOR(CAST(SUM(CASE WHEN late THEN c END) AS DOUBLE)
       |        / COUNT(CASE WHEN late THEN 1 END) + 0.5)
       |      - FLOOR(CAST(SUM(CASE WHEN NOT late THEN c END) AS DOUBLE)
       |        / COUNT(CASE WHEN NOT late THEN 1 END) + 0.5) AS BIGINT)
       |      AS d
       |  FROM o GROUP BY o_custkey
       |  HAVING COUNT(CASE WHEN late THEN 1 END) > 0
       |     AND COUNT(CASE WHEN NOT late THEN 1 END) > 0),
       |nz AS (SELECT d FROM peru WHERE d <> 0),
       |cen AS (
       |  SELECT ABS(d) AS ad, COUNT(*) AS cnt,
       |    CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS pos
       |  FROM nz GROUP BY ABS(d)),
       |cum AS (
       |  SELECT *, CAST(SUM(cnt) OVER (ORDER BY ad
       |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM cen),
       |g AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
       |    SUM(CAST(pos AS HUGEINT) * (cum * 2 - cnt + 1)) AS w2,
       |    SUM(CAST(cnt AS HUGEINT) * cnt * cnt - cnt) AS ties
       |  FROM cum)
       |SELECT n AS n_pairs,
       |  CAST(w2 AS DOUBLE) / 2.0 AS w_plus,
       |  CASE WHEN n < 2 OR $v12 <= 0.0 THEN NULL
       |    ELSE ROUND($z, 4) + 0 END AS z,
       |  CASE WHEN n < 2 OR $v12 <= 0.0 THEN NULL
       |    ELSE ${Parity.fixSql(asTwoSidedPSql(z), 8)} END AS p
       |FROM g""".stripMargin
  }


  /** L296 TOST equivalence test ([PK] Schuirmann 1987 — two one-sided
    * tests): the INVERTED inferential question every ship/no-ship
    * review actually asks — not "are the segments different?" (q231)
    * but "can we PROVE they are the same to within ±δ?". Absence of
    * significance is not equivalence; TOST earns it: reject
    * mean-diff ≤ −δ AND mean-diff ≥ +δ, each at α = 0.05. Here:
    * BUILDING vs FURNITURE mean order value, δ = 5 % of the pooled
    * mean, Welch SE/df (the q231 machinery), decision at the z
    * critical 1.645 — documented large-df form (df runs in the
    * thousands at oracle SFs; t₀.₀₅ differs from z in the third
    * decimal there, and the published t-statistics let any reader
    * re-decide under exact-t).
    *
    * Parity: the q231 exact-moment scheme (HUGEINT/DECIMAL sums, one
    * double chain); outputs floor-quantized (NOT round(): means are
    * s/n rationals and n can be 2·5-smooth); the flag compares the
    * already-quantized t values, so both engines decide on identical
    * doubles.
    *
    * Scale: one broadcast dim join + a 2-group moment agg — the q231
    * plan exactly. */
  def q361Tost(s: SparkSession, dir: String): DataFrame = {
    val o = buildingDollars(s, dir)
    val g = o.groupBy("ga")
      .agg(count(lit(1)).as("n"), sum(col("v").cast(dec)).as("sv"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("qv"))
    val piv = g.agg(
      max(when(col("ga"), col("n"))).as("n_a"),
      max(when(col("ga"), col("sv"))).as("s_a"),
      max(when(col("ga"), col("qv"))).as("q_a"),
      max(when(!col("ga"), col("n"))).as("n_b"),
      max(when(!col("ga"), col("sv"))).as("s_b"),
      max(when(!col("ga"), col("qv"))).as("q_b"))
    def m(sv: String, n: String) = col(sv).cast("double") / col(n)
    def va(qv: String, sv: String, n: String) =
      (col(qv).cast("double") -
        col(sv).cast("double") * col(sv).cast("double") / col(n)) /
        (col(n) - lit(1.0))
    val (ma, mb) = (m("s_a", "n_a"), m("s_b", "n_b"))
    val (sea, seb) = (va("q_a", "s_a", "n_a") / col("n_a"),
      va("q_b", "s_b", "n_b") / col("n_b"))
    val diff = ma - mb
    val se = sqrt(sea + seb)
    val df = (sea + seb) * (sea + seb) /
      (sea * sea / (col("n_a") - lit(1.0)) +
        seb * seb / (col("n_b") - lit(1.0)))
    val margin = (col("s_a") + col("s_b")).cast("double") /
      (col("n_a") + col("n_b")) * 0.05
    val tLo = Parity.fix((diff + margin) / se, 6)
    val tHi = Parity.fix((margin - diff) / se, 6)
    piv.select(col("n_a"), col("n_b"),
      Parity.fix(ma, 6).as("mean_a"), Parity.fix(mb, 6).as("mean_b"),
      Parity.fix(diff, 6).as("diff"), Parity.fix(se, 6).as("se"),
      Parity.fix(df, 4).as("df"),
      Parity.fix(margin, 6).as("margin"),
      tLo.as("t_lower"), tHi.as("t_upper"),
      when(tLo > 1.645 && tHi > 1.645, 1L).otherwise(0L)
        .as("equivalent"))
  }


  val q361TostSql: String =
    s"""WITH o AS ($buildingDollarsSql),
      |g AS (
      |  SELECT ga, COUNT(*) AS n, SUM(CAST(v AS HUGEINT)) AS sv,
      |    SUM(CAST(v AS HUGEINT) * v) AS qv
      |  FROM o GROUP BY ga),
      |piv AS (
      |  SELECT
      |    MAX(CASE WHEN ga THEN n END) AS n_a,
      |    MAX(CASE WHEN ga THEN sv END) AS s_a,
      |    MAX(CASE WHEN ga THEN qv END) AS q_a,
      |    MAX(CASE WHEN NOT ga THEN n END) AS n_b,
      |    MAX(CASE WHEN NOT ga THEN sv END) AS s_b,
      |    MAX(CASE WHEN NOT ga THEN qv END) AS q_b
      |  FROM g),
      |d AS (
      |  SELECT n_a, n_b,
      |    CAST(s_a AS DOUBLE) / n_a AS ma,
      |    CAST(s_b AS DOUBLE) / n_b AS mb,
      |    (CAST(q_a AS DOUBLE) - CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)
      |      / n_a) / (n_a - 1.0) / n_a AS sea,
      |    (CAST(q_b AS DOUBLE) - CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)
      |      / n_b) / (n_b - 1.0) / n_b AS seb,
      |    CAST(s_a + s_b AS DOUBLE) / (n_a + n_b) * 0.05 AS margin
      |  FROM piv),
      |z AS (
      |  SELECT n_a, n_b, ma, mb, margin,
      |    ma - mb AS diff, SQRT(sea + seb) AS se,
      |    (sea + seb) * (sea + seb)
      |      / (sea * sea / (n_a - 1.0) + seb * seb / (n_b - 1.0)) AS df,
      |    ${Parity.fixSql("((ma - mb) + margin) / SQRT(sea + seb)", 6)} + 0 AS t_lower,
      |    ${Parity.fixSql("(margin - (ma - mb)) / SQRT(sea + seb)", 6)} + 0 AS t_upper
      |  FROM d)
      |SELECT n_a, n_b,
      |  ${Parity.fixSql("ma", 6)} + 0 AS mean_a,
      |  ${Parity.fixSql("mb", 6)} + 0 AS mean_b,
      |  ${Parity.fixSql("diff", 6)} + 0 AS diff,
      |  ${Parity.fixSql("se", 6)} + 0 AS se,
      |  ${Parity.fixSql("df", 4)} + 0 AS df,
      |  ${Parity.fixSql("margin", 6)} + 0 AS margin,
      |  t_lower, t_upper,
      |  CAST(CASE WHEN t_lower > 1.645 AND t_upper > 1.645
      |    THEN 1 ELSE 0 END AS BIGINT) AS equivalent
      |FROM z""".stripMargin


  /** L302 Brunner–Munzel test ([PK] Brunner & Munzel 2000) — the
    * heteroscedasticity-robust upgrade of q210's Mann–Whitney on the
    * generalized Behrens–Fisher problem: estimates the stochastic-
    * superiority probability p̂ = P(X < Y) + ½P(X = Y) and tests
    * p = ½ WITHOUT assuming equal variances or equal shapes, via
    * pooled-vs-within midrank variances and a Welch–Satterthwaite df.
    * Two pairs in one query — its own power demonstration (the q364
    * convention): 'priority' (URGENT vs LOW order totals — the q210
    * null pair, |W| ≈ 2) and 'discount' (gross l_extendedprice vs
    * net post-discount revenue — pointwise dominance, so the test
    * must fire: W ≈ −4.9 at sf0.001, −15.4 at sf0.01).
    *
    * Parity: midranks enter as EXACT scaled integers m2 = 2·minrank +
    * ties − 1 (the established midrank-×2 trick); the variance
    * pieces expand to Σw² = n²Σu² − 2n(p−q)Σu + n(p−q)² over exact
    * DECIMAL(38) sums (u = m2_pooled − m2_within, p = Σm2_pooled,
    * q = n(n+1) — the q298 moment discipline, no residual pass);
    * p̂/W/df are one fixed double chain each, 6dp/4dp.
    *
    * Scale (rewritten r17, verdict mandate #2): r16 ranked the RAW
    * fact-scale union through 2-partition `rank()` windows — the
    * single-reducer-sort shape the repo's PrefixSum discipline
    * forbids. Now the q210/q254 backbone: collapse to a (pair, v)
    * census with PIVOTED per-group counts map-side, run ONE
    * multi-column [[PrefixSum]] pass over the global (pair, v) order
    * (no low-cardinality window), and recover per-pair cumulatives by
    * subtracting each pair's exclusive offset, carried by that pass.
    * Doubled midranks per value CELL (2·cum − t + 1, exact under
    * ties, identical to the per-row 2·rank + ties − 1), so the
    * per-group moments weight each cell by its count — bit-identical
    * outputs to the r16 construction, and the oracle's sequential
    * rank windows stay the semantic mirror. */
  def q367BrunnerMunzel(s: SparkSession, dir: String): DataFrame = {
    val pri = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(lit("priority").as("pair"),
        when(col("o_orderpriority") === "1-URGENT", lit("x"))
          .otherwise(lit("y")).as("grp"),
        Parity.quant(col("o_totalprice"), 100.0).as("v"))
    val li = Tables.lineitem(s, dir)
    val disc = li.select(lit("discount").as("pair"), lit("x").as("grp"),
        Parity.quant(col("l_extendedprice"), 1e6)
          .as("v"))
      .unionByName(li.select(lit("discount").as("pair"),
        lit("y").as("grp"),
        Parity.quant(col("l_extendedprice") * (lit(1) - col("l_discount")),
          1e6).as("v")))
    val base = pri.unionByName(disc)
    // (pair, v) census, per-group counts pivoted into columns (q254
    // shape) — the only fact-scale pass, map-side combinable
    val cen = base.groupBy("pair", "v").agg(
      sum(when(col("grp") === "x", 1L).otherwise(0L)).as("nx"),
      sum(when(col("grp") === "y", 1L).otherwise(0L)).as("ny"))
    // ONE multi-column prefix pass over the global (pair, v) order,
    // FUSED with the per-pair exclusive offsets (the cumulative mass of
    // lexicographically-preceding pairs), which come out of the same
    // per-partition partials — no second census build, no extra
    // materialization, no window over the pair totals.
    val cell = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
      Seq(col("pair"), col("v")),
      Seq((col("nx"), "gx"), (col("ny"), "gy")),
      Seq("pair"), Nil,
      Seq((col("nx"), "ox"), (col("ny"), "oy")))
      .withColumn("cx", col("gx") - col("ox"))
      .withColumn("cy", col("gy") - col("oy"))
    // doubled midranks per cell: pooled 2·cumP − t + 1 equals the
    // per-row 2·rank + ties − 1; within-group likewise
    val tP = col("nx") + col("ny")
    val m2c = (col("cx") + col("cy")) * 2L - tP + 1L
    val m2wx = col("cx") * 2L - col("nx") + 1L
    val m2wy = col("cy") * 2L - col("ny") + 1L
    val ux = (m2c - m2wx).cast(dec)
    val uy = (m2c - m2wy).cast(dec)
    // per-(pair, group) moments, cells weighted by their counts —
    // exact DECIMAL(38) throughout (u ≤ 2N so n·u² stays well inside
    // 38 digits at any SF)
    val m = cell.groupBy("pair").agg(
      sum(col("nx")).as("n1"), sum(col("ny")).as("n2"),
      sum(col("nx").cast(dec) * m2c.cast(dec)).as("p1"),
      sum(col("ny").cast(dec) * m2c.cast(dec)).as("p2"),
      sum(col("nx").cast(dec) * ux).as("su1"),
      sum(col("ny").cast(dec) * uy).as("su2y"),
      sum(col("nx").cast(dec) * ux * ux).as("sq1"),
      sum(col("ny").cast(dec) * uy * uy).as("sq2"))
    // Σw² with w = n·u − (p − n(n+1)): exact DECIMAL, per group
    def sw2(n: Column, p: Column, su: Column, sq: Column): Column = {
      val pq = p - n.cast(dec) * (n + 1L).cast(dec)
      n.cast(dec) * n.cast(dec) * sq -
        lit(2L).cast(dec) * n.cast(dec) * pq * su +
        n.cast(dec) * pq * pq
    }
    val g = m.select(col("pair"), col("n1"), col("n2"),
      col("p1"), col("p2"),
      sw2(col("n1"), col("p1"), col("su1"), col("sq1")).as("w1"),
      sw2(col("n2"), col("p2"), col("su2y"), col("sq2")).as("w2"))
    def d(c: Column) = c.cast("double")
    val (n1, n2) = (d(col("n1")), d(col("n2")))
    // ANSI-safe divisors (the q370 hoisting note): clamp exact zeros;
    // identity whenever the `bad` guard isn't already nulling the row
    def safe(c: Column) = greatest(c, lit(1e-300))
    val rbar1 = d(col("p1")) / safe(n1 * 2.0)
    val rbar2 = d(col("p2")) / safe(n2 * 2.0)
    val s1 = d(col("w1")) / safe(lit(4.0) * n1 * n1 * (n1 - 1.0))
    val s2 = d(col("w2")) / safe(lit(4.0) * n2 * n2 * (n2 - 1.0))
    val vs1 = n1 * s1
    val vs2 = n2 * s2
    val wStat = n1 * n2 * (rbar2 - rbar1) /
      safe((n1 + n2) * sqrt(vs1 + vs2))
    val df = (vs1 + vs2) * (vs1 + vs2) /
      safe(vs1 * vs1 / safe(n1 - 1.0) + vs2 * vs2 / safe(n2 - 1.0))
    val pHat = (rbar2 - (n2 + 1.0) / 2.0) / safe(n1)
    // fuzz hardening (q251 convention): a missing or 1-element group,
    // or an all-tied pooled sample (zero rank variance), nulls the test
    val bad = col("n1").isNull || col("n2").isNull ||
      col("n1") < 2L || col("n2") < 2L || (vs1 + vs2) <= 0.0
    def guard(c: Column): Column =
      when(bad, lit(null).cast("double")).otherwise(c)
    g.select(col("pair"), col("n1"), col("n2"),
        guard(Parity.fix(pHat, 6)).as("p_hat"),
        guard(Parity.fix(wStat, 4)).as("w_stat"),
        guard(Parity.fix(df, 2)).as("df"),
        when(bad, lit(null).cast("long"))
          .otherwise((abs(Parity.fix(wStat, 4)) > 1.96).cast("long"))
          .as("reject_5pct"))
      .orderBy("pair")
  }


  val q367BrunnerMunzelSql: String =
    s"""WITH base AS (
      |  SELECT 'priority' AS pair,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'x' ELSE 'y' END
      |      AS grp,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |  UNION ALL
      |  SELECT 'discount', 'x',
      |    CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'discount', 'y',
      |    CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
      |      AS BIGINT)
      |  FROM lineitem),
      |ranked AS (
      |  SELECT pair, grp,
      |    2 * RANK() OVER (PARTITION BY pair ORDER BY v)
      |      + COUNT(*) OVER (PARTITION BY pair, v) - 1 AS m2c,
      |    2 * RANK() OVER (PARTITION BY pair, grp ORDER BY v)
      |      + COUNT(*) OVER (PARTITION BY pair, grp, v) - 1 AS m2w
      |  FROM base),
      |m AS (
      |  SELECT pair, grp, COUNT(*) AS n,
      |    CAST(SUM(CAST(m2c AS HUGEINT)) AS HUGEINT) AS p,
      |    CAST(SUM(CAST(m2c - m2w AS HUGEINT)) AS HUGEINT) AS su,
      |    CAST(SUM(CAST((m2c - m2w) * (m2c - m2w) AS HUGEINT))
      |      AS HUGEINT) AS su2
      |  FROM ranked GROUP BY pair, grp),
      |w AS (
      |  SELECT pair, grp, n, p,
      |    CAST(n AS HUGEINT) * n * su2
      |      - 2 * CAST(n AS HUGEINT) * (p - CAST(n AS HUGEINT) * (n + 1))
      |        * su
      |      + CAST(n AS HUGEINT) * (p - CAST(n AS HUGEINT) * (n + 1))
      |        * (p - CAST(n AS HUGEINT) * (n + 1)) AS sw2
      |  FROM m),
      |g AS (
      |  SELECT pair,
      |    MAX(CASE WHEN grp = 'x' THEN n END) AS n1,
      |    MAX(CASE WHEN grp = 'y' THEN n END) AS n2,
      |    MAX(CASE WHEN grp = 'x' THEN p END) AS p1,
      |    MAX(CASE WHEN grp = 'y' THEN p END) AS p2,
      |    MAX(CASE WHEN grp = 'x' THEN sw2 END) AS w1,
      |    MAX(CASE WHEN grp = 'y' THEN sw2 END) AS w2
      |  FROM w GROUP BY pair),
      |f AS (
      |  SELECT pair, n1, n2,
      |    CAST(p1 AS DOUBLE) / (CAST(n1 AS DOUBLE) * 2.0) AS rbar1,
      |    CAST(p2 AS DOUBLE) / (CAST(n2 AS DOUBLE) * 2.0) AS rbar2,
      |    CAST(n1 AS DOUBLE) * (CAST(w1 AS DOUBLE)
      |      / (4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |        * (CAST(n1 AS DOUBLE) - 1.0))) AS vs1,
      |    CAST(n2 AS DOUBLE) * (CAST(w2 AS DOUBLE)
      |      / (4.0 * CAST(n2 AS DOUBLE) * CAST(n2 AS DOUBLE)
      |        * (CAST(n2 AS DOUBLE) - 1.0))) AS vs2
      |  FROM g),
      |z AS (
      |  SELECT pair, n1, n2,
      |    (n1 IS NULL OR n2 IS NULL OR n1 < 2 OR n2 < 2
      |      OR vs1 + vs2 <= 0.0) AS bad,
      |    (rbar2 - (CAST(n2 AS DOUBLE) + 1.0) / 2.0)
      |      / CAST(n1 AS DOUBLE) AS p_hat,
      |    CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) * (rbar2 - rbar1)
      |      / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
      |        * sqrt(vs1 + vs2)) AS w_stat,
      |    (vs1 + vs2) * (vs1 + vs2)
      |      / (vs1 * vs1 / (CAST(n1 AS DOUBLE) - 1.0)
      |        + vs2 * vs2 / (CAST(n2 AS DOUBLE) - 1.0)) AS df
      |  FROM f)
      |SELECT pair, CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("p_hat", 6)} + 0 END AS p_hat,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("w_stat", 4)} + 0 END AS w_stat,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("df", 2)} + 0 END AS df,
      |  CASE WHEN bad THEN NULL
      |    ELSE CAST(CASE WHEN ABS(${Parity.fixSql("w_stat", 4)} + 0)
      |      > 1.96 THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
      |FROM z ORDER BY pair""".stripMargin


  /** L306 Baumgartner–Weiß–Schindler two-sample test ([PK]
    * Baumgartner, Weiß & Schindler 1998): a rank test WEIGHTED BY THE
    * VARIANCE OF THE EMPIRICAL PROCESS, so unlike Mann–Whitney (q210)
    * and Brunner–Munzel (q367) it keeps full power at the TAILS —
    * B = ½(B_X + B_Y), B_X = (1/n)Σᵢ (Rᵢ − (m+n)i/n)² /
    * [(i/(n+1))(1−i/(n+1))·m(m+n)/n]. Same two pairs as q367 (the
    * power-demo convention): 'priority' sits under the b₀.₀₅ = 2.493
    * large-sample critical value (measured 2.10/2.48); 'discount'
    * fires decisively (25.7 at sf0.001, 250 at sf0.01).
    *
    * Parity: each term is an exact integer RATIO — numerator
    * A²(n+1)² with A = nRᵢ − (m+n)i, denominator n·i·(n+1−i)·m·(m+n),
    * both DECIMAL(38)-exact — divided once in double and micro-
    * quantized (1e6) per term BEFORE the sum (the seed-122
    * convention: the cross-row accumulation is exact int64); pooled
    * and within positions come from a tie-robust (pair, grp, v)
    * census (cumulative counts + parallel k-th pairing inside tied
    * runs — identical to per-row ranks on tie-free data and
    * engine-deterministic on ties; NOTE this places tied POOLED
    * values x-before-y rather than at midranks, a pinned convention
    * both engines share — on tie-heavy inputs B shifts slightly
    * versus midrank-based references, per the r16 advisor note); B
    * is one double chain from the two integer sums, 4dp.
    *
    * Scale (rewritten r17, verdict mandate #2): the census here is
    * fact-cardinality (micro-unit price domain), so cumulative
    * positions run through ONE group-masked multi-column
    * [[PrefixSum]] pass that also carries the per-pair offsets — no
    * per-pair window anywhere; the k-th-position explode is
    * embarrassingly parallel map-side work and everything after the
    * keyed agg is a 4-row census. */
  def q371Bws(s: SparkSession, dir: String): DataFrame = {
    val pri = Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(lit("priority").as("pair"),
        when(col("o_orderpriority") === "1-URGENT", lit("x"))
          .otherwise(lit("y")).as("grp"),
        Parity.quant(col("o_totalprice"), 100.0).as("v"))
    val li = Tables.lineitem(s, dir)
    val disc = li.select(lit("discount").as("pair"), lit("x").as("grp"),
        Parity.quant(col("l_extendedprice"), 1e6)
          .as("v"))
      .unionByName(li.select(lit("discount").as("pair"),
        lit("y").as("grp"),
        Parity.quant(col("l_extendedprice") * (lit(1) - col("l_discount")),
          1e6).as("v")))
    val base = pri.unionByName(disc)
    // tie-robust census construction (fuzz seed 133: per-row tiebreak
    // keys can collide on adversarial data, making row_number pairing
    // engine-dependent): collapse to a (pair, grp, v) census, place
    // each tied run by cumulative counts (within: v order; pooled:
    // (v, grp) order, x before y), and pair the k-th within-position
    // with the k-th pooled rank — on tie-free data this is EXACTLY
    // the per-row construction, and on ties it is deterministic
    // the census has ONE consumer, the prefix pass below, which also
    // yields the per-pair totals — so it needs no checkpoint
    val census = base.groupBy("pair", "grp", "v")
      .agg(count(lit(1)).as("cv"))
    // the census is fact-CARDINALITY (micro-unit prices), so no
    // per-pair window: ONE [[PrefixSum]] pass over the pooled order
    // (pair, v, grp — x before y at ties). A grp-x row's cumulative of
    // the group-MASKED cvx IS its inclusive within-x cumulative (y rows
    // add zero); the per-pair totals (n, m) and exclusive offsets ride
    // the same pass.
    val ranked = graft.ops.PrefixSum.withPrefixSumsAndTotals(
      census
        .withColumn("cvx", when(col("grp") === "x", col("cv"))
          .otherwise(0L))
        .withColumn("cvy", when(col("grp") === "y", col("cv"))
          .otherwise(0L)),
      Seq(col("pair"), col("v"), col("grp")),
      Seq((col("cv"), "gp"), (col("cvx"), "gwx"), (col("cvy"), "gwy")),
      Seq("pair"),
      // per-pair totals of the SAME masked columns (tx ≡ Σ cv·[grp=x])
      // and the pairs' exclusive offsets, fused out of the prefix pass
      Seq((col("cvx"), "tx"), (col("cvy"), "ty")),
      Seq((col("cvx"), "offx"), (col("cvy"), "offy"),
        (col("cvx") + col("cvy"), "offp")))
      .withColumn("gw", when(col("grp") === "x", col("gwx"))
        .otherwise(col("gwy")))
      .withColumn("offw", when(col("grp") === "x", col("offx"))
        .otherwise(col("offy")))
      .withColumn("i0", col("gw") - col("offw") - col("cv") + 1L)
      .withColumn("r0", col("gp") - col("offp") - col("cv") + 1L)
      .withColumn("n", when(col("grp") === "x", col("tx"))
        .otherwise(col("ty")))
      .withColumn("m", when(col("grp") === "x", col("ty"))
        .otherwise(col("tx")))
      .withColumn("k", explode(sequence(lit(0L), col("cv") - 1L)))
      .withColumn("i", col("i0") + col("k"))
      .withColumn("r", col("r0") + col("k"))
    val a = col("n") * col("r") - (col("m") + col("n")) * col("i")
    val num = a.cast(dec) * a.cast(dec) *
      ((col("n") + 1L) * (col("n") + 1L)).cast(dec)
    val den = col("n").cast(dec) * col("i").cast(dec) *
      (col("n") + 1L - col("i")).cast(dec) * col("m").cast(dec) *
      (col("m") + col("n")).cast(dec)
    val micro = Parity.quant(num.cast("double") / den.cast("double"), 1e6)
    // fuzz hardening: a pair whose other group is EMPTY (m = 0) has no
    // two-sample question — drop its rows (the den factor m would be
    // an exact-zero ANSI divisor); the group pivot then yields nulls
    val g = ranked.filter(col("m") > 0L).withColumn("micro", micro)
      .groupBy("pair", "grp")
      .agg(max(col("n")).as("n"), sum(col("micro")).as("s"))
      .groupBy("pair")
      .agg(max(when(col("grp") === "x", col("n"))).as("n1"),
        max(when(col("grp") === "y", col("n"))).as("n2"),
        max(when(col("grp") === "x", col("s"))).as("s1"),
        max(when(col("grp") === "y", col("s"))).as("s2"))
    def d(c: String) = col(c).cast("double")
    val b = (d("s1") / 1e6 / d("n1") + d("s2") / 1e6 / d("n2")) / 2.0
    g.select(col("pair"), col("n1"), col("n2"), Parity.fix(b, 4).as("b_stat"),
        (Parity.fix(b, 4) > 2.493).cast("long").as("reject_5pct"))
      .orderBy("pair")
  }


  val q371BwsSql: String =
    s"""WITH base AS (
      |  SELECT 'priority' AS pair,
      |    CASE WHEN o_orderpriority = '1-URGENT' THEN 'x' ELSE 'y' END
      |      AS grp,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS v
      |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |  UNION ALL
      |  SELECT 'discount', 'x',
      |    CAST(FLOOR(l_extendedprice * 1000000 + 0.5) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'discount', 'y',
      |    CAST(FLOOR(l_extendedprice * (1 - l_discount) * 1000000 + 0.5)
      |      AS BIGINT)
      |  FROM lineitem),
      |census AS (
      |  SELECT pair, grp, v, COUNT(*) AS cv
      |  FROM base GROUP BY pair, grp, v),
      |pos AS (
      |  SELECT pair, grp, v, cv,
      |    CAST(COALESCE(SUM(cv) OVER (PARTITION BY pair, grp ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + 1 AS i0,
      |    CAST(COALESCE(SUM(cv) OVER (PARTITION BY pair ORDER BY v, grp
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) + 1 AS r0,
      |    CAST(SUM(cv) OVER (PARTITION BY pair, grp) AS BIGINT) AS n,
      |    CAST(SUM(cv) OVER (PARTITION BY pair) AS BIGINT)
      |      - CAST(SUM(cv) OVER (PARTITION BY pair, grp) AS BIGINT)
      |      AS m
      |  FROM census),
      |ranked AS (
      |  SELECT pair, grp, n, m,
      |    i0 + k AS i, r0 + k AS r
      |  FROM pos, unnest(generate_series(0, cv - 1)) tk(k)),
      |t AS (
      |  SELECT pair, grp, n,
      |    ${Parity.quantSql("CAST(CAST(n * r - (m + n) * i AS HUGEINT)" +
                             " * CAST(n * r - (m + n) * i AS HUGEINT)" +
                             " * CAST((n + 1) * (n + 1) AS HUGEINT) AS DOUBLE)" +
                             " / CAST(CAST(n AS HUGEINT) * i * (n + 1 - i) * m * (m + n)" +
                             " AS DOUBLE)", 6)}
      |      AS micro
      |  FROM ranked WHERE m > 0),
      |g AS (
      |  SELECT pair, grp, MAX(n) AS n, CAST(SUM(micro) AS BIGINT) AS s
      |  FROM t GROUP BY pair, grp),
      |p AS (
      |  SELECT pair,
      |    MAX(CASE WHEN grp = 'x' THEN n END) AS n1,
      |    MAX(CASE WHEN grp = 'y' THEN n END) AS n2,
      |    MAX(CASE WHEN grp = 'x' THEN s END) AS s1,
      |    MAX(CASE WHEN grp = 'y' THEN s END) AS s2
      |  FROM g GROUP BY pair)
      |SELECT pair, n1, n2,
      |  ${Parity.fixSql("(CAST(s1 AS DOUBLE) / 1e6 / n1" +
                         " + CAST(s2 AS DOUBLE) / 1e6 / n2) / 2.0", 4)}
      |    + 0
      |    AS b_stat,
      |  CAST(CASE WHEN ${Parity.fixSql("(CAST(s1 AS DOUBLE) / 1e6 / n1" +
                                        " + CAST(s2 AS DOUBLE) / 1e6 / n2) / 2.0", 4)}
      |      + 0
      |      > 2.493 THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
      |FROM p ORDER BY pair""".stripMargin

  /** L320 Siegel–Tukey rank dispersion test *(added r17;
    * [PK] Siegel & Tukey 1960)*: do URGENT and LOW order values
    * differ in SPREAD? Ranks are assigned alternating from the
    * EXTREMES inward (1 to the minimum; 2, 3 to the two maxima; 4, 5
    * to the next two minima, …), so a rank-sum test on them becomes a
    * scale test with Mann–Whitney's exact null — the nonparametric
    * sibling of q288's Ansari–Bradley, distinguished by needing NO
    * separate null distribution (the q210 machinery applies
    * verbatim). Closed form from the bottom position i of N:
    * i ≤ ⌈N/2⌉ → 2i−1 if i odd else 2i; else with j = N−i+1 →
    * 2j if j odd else 2j−1.
    *
    * Parity: positions come from the value census + [[PrefixSum]]
    * cumulative; the k-th-position explode (q371's trick) makes each
    * ST rank an exact integer; tied runs take the run's AVERAGE ST
    * rank, micro-quantized (1e6) per run before the DECIMAL(38)
    * group-sum (one IEEE division of exact ints — deterministic both
    * engines); the z reuses q210's tie-corrected Mann–Whitney
    * variance (ST ranks are a permutation of 1..N, so the tie term
    * Σ(t³−t) is unchanged). Convention note (the q371 precedent):
    * averaging ST ranks within a tied run is the standard midrank
    * treatment; the alternating assignment itself is the
    * Siegel–Tukey pinned order.
    *
    * Scale: census + ONE PrefixSum pass + map-side explode — no
    * low-cardinality window anywhere; everything after the keyed agg
    * is 1-row algebra. */
  def q385SiegelTukey(s: SparkSession, dir: String): DataFrame = {
    val cen = urgentLowCensus(s, dir)
    // r20 (verdict mandate #2): totals fused into the prefix pass —
    // the old cen.agg re-executed the fact-scale census build
    val cum = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
      Seq(col("c")), Seq((col("n"), "cumn")), Nil,
      Seq((col("n"), "nt"), (col("n1"), "n1t"),
        (col("n").cast(dec) * col("n").cast(dec) * col("n").cast(dec) -
          col("n").cast(dec), "tie")))
    // per tied run: positions i0..i0+n−1, each mapped to its ST rank,
    // summed exactly; the run's average rank is ONE quantized division
    val run = cum
      .withColumn("i0", col("cumn") - col("n") + 1L)
      .withColumn("k", explode(sequence(lit(0L), col("n") - 1L)))
      .withColumn("i", col("i0") + col("k"))
      .withColumn("j", col("nt") - col("i") + 1L)
      .withColumn("st", when(col("i") <= expr("(nt + 1) div 2"),
          when(pmod(col("i"), lit(2L)) === 1L, col("i") * 2L - 1L)
            .otherwise(col("i") * 2L))
        .otherwise(when(pmod(col("j"), lit(2L)) === 1L, col("j") * 2L)
          .otherwise(col("j") * 2L - 1L)))
    val totals = Seq("nt", "n1t", "tie").map(t => max(col(t)).as(t))
    val runs = run.groupBy("c")
      .agg(max(col("n")).as("n"), max(col("n1")).as("n1") +:
        sum(col("st")).as("sr") +: totals: _*)
      .withColumn("aq", floor(col("sr").cast("double") * 1e6 /
        col("n").cast("double") + 0.5).cast("long"))
    val g = runs.agg(sum(col("n1").cast(dec) * col("aq").cast(dec))
        .as("w1q6"), totals: _*)
    def d(c: Column) = c.cast("double")
    val n1t = d(col("n1t"))
    val n2t = d(col("nt")) - n1t
    val nt = d(col("nt"))
    val w1 = d(col("w1q6")) / 1e6
    val mean = n1t * (nt + 1.0) / 2.0
    val varW = n1t * n2t / 12.0 *
      ((nt + 1.0) - d(col("tie")) / (nt * (nt - 1.0)))
    val z = (w1 - mean) / sqrt(greatest(varW, lit(1e-300)))
    g.select(col("n1t").as("n_urgent"),
        (col("nt") - col("n1t")).as("n_low"),
        Parity.fix(w1, 4).as("w1_st"),
        Parity.fix(z, 4).as("z"),
        ((abs(Parity.fix(z, 4)) > 1.96).cast("long"))
          .as("reject_5pct"))
  }

  val q385SiegelTukeySql: String =
    s"""WITH $urgentLowCensusSql,
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(n1) AS BIGINT) AS n1t,
      |    SUM(CAST(n AS HUGEINT) * n * n - n) AS tie
      |  FROM cen),
      |cum AS (
      |  SELECT c, n, n1,
      |    CAST(SUM(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cumn
      |  FROM cen),
      |pos AS (
      |  SELECT c, n, n1, cumn - n + 1 + k AS i
      |  FROM cum, unnest(generate_series(0, n - 1)) tk(k)),
      |st AS (
      |  SELECT c, n, n1,
      |    CASE WHEN i <= (nt + 1) // 2
      |      THEN CASE WHEN i % 2 = 1 THEN 2 * i - 1 ELSE 2 * i END
      |      ELSE CASE WHEN (nt - i + 1) % 2 = 1 THEN 2 * (nt - i + 1)
      |        ELSE 2 * (nt - i + 1) - 1 END END AS r
      |  FROM pos CROSS JOIN tot),
      |runs AS (
      |  SELECT c, MAX(n) AS n, MAX(n1) AS n1,
      |    CAST(SUM(r) AS BIGINT) AS sr
      |  FROM st GROUP BY c),
      |w AS (
      |  SELECT CAST(SUM(CAST(n1 AS HUGEINT)
      |    * CAST(FLOOR(CAST(sr AS DOUBLE) * 1e6 / n + 0.5) AS BIGINT))
      |    AS HUGEINT) AS w1q6
      |  FROM runs),
      |z AS (
      |  SELECT n1t, nt - n1t AS n2t, nt,
      |    CAST(w1q6 AS DOUBLE) / 1e6 AS w1,
      |    (CAST(w1q6 AS DOUBLE) / 1e6
      |      - CAST(n1t AS DOUBLE) * (nt + 1.0) / 2.0)
      |    / SQRT(GREATEST(CAST(n1t AS DOUBLE) * (nt - n1t) / 12.0
      |      * ((nt + 1.0) - CAST(tie AS DOUBLE)
      |        / (CAST(nt AS DOUBLE) * (nt - 1.0))), 1e-300)) AS zz
      |  FROM w CROSS JOIN tot)
      |SELECT CAST(n1t AS BIGINT) AS n_urgent,
      |  CAST(n2t AS BIGINT) AS n_low,
      |  ${Parity.fixSql("w1", 4)} + 0 AS w1_st,
      |  ${Parity.fixSql("zz", 4)} + 0 AS z,
      |  CAST(CASE WHEN ABS(${Parity.fixSql("zz", 4)} + 0) > 1.96
      |    THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
      |FROM z""".stripMargin
}
