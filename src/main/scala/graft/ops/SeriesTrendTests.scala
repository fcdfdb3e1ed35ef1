package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.SeriesStats.{daily, dailySql, daily2, daily2Sql,
  dayIndexed, dayIndexedSql, trailingYear, trailingYearSql}

/** Trend / randomness / location tests on the daily order-revenue
  * series — the SeriesStats split (r14, the EventQueries discipline:
  * the file crossed the ~2,000-line review threshold). Shares the
  * exact int64 daily series and its parity rules with
  * [[SeriesStats]] (see that file's scale/parity header): runs test
  * (q237), Mann–Kendall (q248), gamma + Somers' D (q251),
  * Hodges–Lehmann (q262), Cox–Stuart (q263), turning points (q264),
  * Lo–MacKinlay variance ratio (q265).
  */
object SeriesTrendTests {
  /** L171 Wald–Wolfowitz runs test (Wald & Wolfowitz 1940 [PK]) on the
    * SIGNS of q230's seasonally-adjusted residuals: with n₊ positive
    * and n₋ negative residuals in R runs, E[R] = 2n₊n₋/n + 1 and
    * Var[R] = 2n₊n₋(2n₊n₋−n)/(n²(n−1)) — the distribution-free
    * independence check beside q230's DW (DW sees lag-1 magnitude
    * correlation; runs sees ANY sign clustering). Zero residuals count
    * as positive (eq ≥ 0 — the convention is pinned identically in
    * both engines; eq is an exact int so the decision can't straddle).
    *
    * Parity: residuals pin to int64 micro-units (q230 chain); run
    * boundaries, n₊/n₋, and R are integer decisions; z is one double
    * chain 4dp; p rides the A-S polynomial quantized 1e-8.
    *
    * Scale: the q230 shape — day agg, ≤7-row dow census broadcast,
    * one lag window over the scale-constant series, 1-row algebra. */
  def q237RunsTest(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
      .select(col("day"), col("rev"), (weekday(col("day")) + 1).as("dw"))
    val seas = d.groupBy("dw")
      .agg(sum(col("rev")).as("sr"), count(lit(1)).as("nd"))
    val e = d.join(broadcast(seas), "dw")
      .select(col("day"),
        when(Parity.quant(col("rev").cast("double") - col("sr").cast("double") /
          col("nd"), 1e6) >= 0L, 1).otherwise(0).as("sgn"))
    val w = Window.orderBy("day")
    val lagd = e.withColumn("sp", lag(col("sgn"), 1).over(w))
    val agg = lagd.agg(
      count(lit(1)).as("n_days"),
      sum(col("sgn").cast("long")).as("n_pos"),
      sum(when(col("sp").isNotNull && col("sp") =!= col("sgn"), 1L)
        .otherwise(0L)).as("switches"))
    val nP = col("n_pos").cast("double")
    val nN = (col("n_days") - col("n_pos")).cast("double")
    val n = col("n_days").cast("double")
    val r = (col("switches") + 1).cast("double")
    val eR = lit(2.0) * nP * nN / n + lit(1.0)
    val vR = lit(2.0) * nP * nN * (lit(2.0) * nP * nN - n) /
      (n * n * (n - lit(1.0)))
    val z = (r - eR) / sqrt(vR)
    agg.select(col("n_days"), col("n_pos"),
      (col("n_days") - col("n_pos")).as("n_neg"),
      (col("switches") + 1).as("runs"),
      (round(z, 4) + 0.0).as("z_runs"),
      Parity.fix(StatFns.asTwoSidedP(z), 8).as("p"))
  }

  /** L185 Goodman–Kruskal γ and Somers' D (Goodman & Kruskal 1954,
    * Somers 1962 [PK]): the ordinal-association companions to q211's
    * τ-b over the same (day revenue, day order-count) pair set —
    * γ = (nc−nd)/(nc+nd) ignores ties entirely, Somers'
    * D_yx = (nc−nd)/(nc+nd+T_Y) penalizes ties in the DEPENDENT
    * variable only (the asymmetric "does x predict y" form), and the
    * three together bracket τ-b. Textbook convention (the r11 ADVICE
    * fix): T_Y counts pairs tied on Y but NOT also on X (and T_X the
    * mirror) — both-tied pairs belong to neither denominator. The
    * reported ties_x/ties_y columns stay the raw dx=0 / dy=0 totals
    * (q211's tie counts); ties_both makes the exclusion auditable.
    *
    * Parity: the q211 pair build verbatim (lazy-checkpointed constant
    * 66k pair set); nc/nd/tie counts exact int64; the ratios are one
    * double chain 6dp.
    *
    * Scale: the q206/q211 shape — only the day aggregation scans
    * fact data. */
  def q251OrdinalAssoc(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily2(s, dir))
    val recent = trailingYear(d).select(col("t"), col("rev"), col("cnt"))
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")), col("a.t") < col("b.t"))
      .select((col("b.rev") - col("a.rev")).as("dx"),
        (col("b.cnt") - col("a.cnt")).as("dy"))
      .localCheckpoint(eager = false)
    val agg = pairs.agg(
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("tx"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ty"),
      sum(when(col("dx") === 0 && col("dy") === 0, 1L).otherwise(0L))
        .as("txy"))
    val diff = (col("nc") - col("nd")).cast("double")
    // fuzz hardening (r12): degenerate (all-tied / empty) pair sets
    // zero the denominators — the coefficients go null, not crash
    def safe(den: org.apache.spark.sql.Column) =
      when(den === 0, lit(null).cast("double"))
        .otherwise(round(diff / den.cast("double"), 6) + 0.0)
    agg.select(col("nc"), col("nd"), col("tx").as("ties_x"),
      col("ty").as("ties_y"), col("txy").as("ties_both"),
      safe(col("nc") + col("nd")).as("gamma"),
      safe(col("nc") + col("nd") + col("ty") - col("txy"))
        .as("somers_dyx"),
      safe(col("nc") + col("nd") + col("tx") - col("txy"))
        .as("somers_dxy"))
  }

  val q251OrdinalAssocSql: String =
    s"""WITH d AS ($daily2Sql),
       |dd AS (${dayIndexedSql("d")}),
       |rc AS (SELECT t, rev, cnt ${trailingYearSql("dd")}),
       |p AS (
       |  SELECT b.rev - a.rev AS dx, b.cnt - a.cnt AS dy
       |  FROM rc a JOIN rc b ON a.t < b.t),
       |g AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nc,
       |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nd,
       |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tx,
       |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ty,
       |    CAST(SUM(CASE WHEN dx = 0 AND dy = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS txy
       |  FROM p)
       |SELECT nc, nd, tx AS ties_x, ty AS ties_y, txy AS ties_both,
       |  CASE WHEN nc + nd = 0 THEN NULL ELSE
       |    ROUND(CAST(nc - nd AS DOUBLE) / (nc + nd), 6) + 0 END AS gamma,
       |  CASE WHEN nc + nd + ty - txy = 0 THEN NULL ELSE
       |    ROUND(CAST(nc - nd AS DOUBLE) / (nc + nd + ty - txy), 6) + 0
       |    END AS somers_dyx,
       |  CASE WHEN nc + nd + tx - txy = 0 THEN NULL ELSE
       |    ROUND(CAST(nc - nd AS DOUBLE) / (nc + nd + tx - txy), 6) + 0
       |    END AS somers_dxy
       |FROM g""".stripMargin

  /** L182 Mann–Kendall trend test (Mann 1945, Kendall [PK]) on the
    * trailing-365-day revenue series: S = Σ_{i<j} sign(x_j − x_i),
    * tie-corrected Var[S] = [n(n−1)(2n+5) − Σt(t−1)(2t+5)]/18,
    * continuity-corrected z. The TEST companion to q206's Theil–Sen
    * SLOPE (same pair set): Theil–Sen says how steep, Mann–Kendall
    * says whether the monotone trend is significant at all.
    *
    * Parity: the q206/q211 pair build (lazy localCheckpoint, constant
    * C(365,2) pairs); S and the tie census are exact int64; z is one
    * double chain; p rides A-S quantized 1e-8.
    *
    * Scale: only the day aggregation scans fact data — the q206
    * shape exactly. */
  def q248MannKendall(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily(s, dir))
    // lazy checkpoint: BOTH consumers (pair build and tie census) read
    // the cut, so the scale-constant window materializes once and the
    // plan's nested-loop budget stays at the single final 1-row join
    val recent = trailingYear(d).select(col("t"), col("rev"))
      .localCheckpoint(eager = false)
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")), col("a.t") < col("b.t"))
      .select(signum((col("b.rev") - col("a.rev")).cast("double"))
        .cast("long").as("sgn"))
      .localCheckpoint(eager = false)
    val sAgg = pairs.agg(sum(col("sgn")).as("s_stat"))
    val ties = recent.groupBy("rev").agg(count(lit(1)).as("tc"))
      .agg(count(lit(1)).cast("long").as("n_distinct"),
        sum(col("tc")).as("n"),
        sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
          .as("tie_term"))
    val nD = col("n").cast("double")
    val varS = (nD * (nD - 1.0) * (lit(2.0) * nD + 5.0) -
      col("tie_term").cast("double")) / 18.0
    val z = when(col("s_stat") > 0,
        (col("s_stat").cast("double") - 1.0) / sqrt(varS))
      .when(col("s_stat") < 0,
        (col("s_stat").cast("double") + 1.0) / sqrt(varS))
      .otherwise(lit(0.0))
    sAgg.crossJoin(broadcast(ties))
      .select(col("n").as("n_days"), col("s_stat"),
        (round(z, 4) + 0.0).as("z_mk"),
        Parity.fix(StatFns.asTwoSidedP(z), 8).as("p"),
        when(col("s_stat") > 0, lit("increasing"))
          .when(col("s_stat") < 0, lit("decreasing"))
          .otherwise(lit("none")).as("trend"))
  }

  val q248MannKendallSql: String = {
    val z = """(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
      | / SQRT((CAST(n AS DOUBLE) * (n - 1) * (2 * CAST(n AS DOUBLE) + 5)
      |   - CAST(tie_term AS DOUBLE)) / 18.0)
      | WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
      | / SQRT((CAST(n AS DOUBLE) * (n - 1) * (2 * CAST(n AS DOUBLE) + 5)
      |   - CAST(tie_term AS DOUBLE)) / 18.0)
      | ELSE 0.0 END)""".stripMargin.replace("\n", " ")
    s"""WITH d AS ($dailySql),
       |dd AS (${dayIndexedSql("d")}),
       |rc AS (SELECT t, rev ${trailingYearSql("dd")}),
       |sa AS (
       |  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
       |    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM rc a JOIN rc b ON a.t < b.t),
       |ties AS (
       |  SELECT COUNT(*) AS n_distinct,
       |    CAST(SUM(tc) AS BIGINT) AS n,
       |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_term
       |  FROM (SELECT rev, COUNT(*) AS tc FROM rc GROUP BY rev))
       |SELECT n AS n_days, s_stat,
       |  ROUND($z, 4) + 0 AS z_mk,
       |  ${Parity.fixSql(StatFns.asTwoSidedPSql(z), 8)} AS p,
       |  CASE WHEN s_stat > 0 THEN 'increasing'
       |    WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
       |FROM sa, ties""".stripMargin
  }

  val q237RunsTestSql: String = {
    val z = "((CAST(switches + 1 AS DOUBLE) " +
      "- (2.0 * np * nn / n + 1.0)) " +
      "/ SQRT(2.0 * np * nn * (2.0 * np * nn - n) / (n * n * (n - 1.0))))"
    s"""WITH d AS ($dailySql),
       |dd AS (
       |  SELECT day, rev, isodow(day) AS dw FROM d),
       |seas AS (
       |  SELECT dw, CAST(SUM(rev) AS BIGINT) AS sr, COUNT(*) AS nd
       |  FROM dd GROUP BY dw),
       |e AS (
       |  SELECT day,
       |    CASE WHEN ${Parity.quantSql("(CAST(rev AS DOUBLE)" +
                                        " - CAST(sr AS DOUBLE) / nd)", 6)}
       |      >= 0
       |      THEN 1 ELSE 0 END AS sgn
       |  FROM dd JOIN seas ON dd.dw = seas.dw),
       |l AS (
       |  SELECT sgn, LAG(sgn) OVER (ORDER BY day) AS sp FROM e),
       |agg AS (
       |  SELECT COUNT(*) AS n_days,
       |    CAST(SUM(sgn) AS BIGINT) AS n_pos,
       |    CAST(SUM(CASE WHEN sp IS NOT NULL AND sp <> sgn THEN 1 ELSE 0
       |      END) AS BIGINT) AS switches
       |  FROM l),
       |c AS (
       |  SELECT n_days, n_pos, switches,
       |    CAST(n_pos AS DOUBLE) AS np,
       |    CAST(n_days - n_pos AS DOUBLE) AS nn,
       |    CAST(n_days AS DOUBLE) AS n
       |  FROM agg)
       |SELECT n_days, n_pos, n_days - n_pos AS n_neg,
       |  switches + 1 AS runs,
       |  ROUND($z, 4) + 0 AS z_runs,
       |  ${Parity.fixSql(StatFns.asTwoSidedPSql(z), 8)} AS p
       |FROM c""".stripMargin
  }

  /** L191 Cox–Stuart trend test (Cox & Stuart 1955 [PK]) on daily
    * revenue: pair day i with day i+m (m = ⌈n/2⌉; the middle day of an
    * odd series is unpaired), count increases S⁺ and decreases S⁻
    * (ties dropped), and z = (S⁺ − S⁻)/√(S⁺+S⁻) — the sign-test trend
    * check that needs NO distributional assumption at all, the crude
    * robust sibling of q206's Theil–Sen slope and q248's Mann–Kendall
    * (M-K weighs all pairs; Cox–Stuart only the half-spaced ones, so
    * it is immune to seasonal short-range wiggle of period < m).
    *
    * Parity: pair differences are exact int64 off the day census;
    * S⁺/S⁻ exact; z one double chain 4dp; p the shared A-S kernel
    * quantized 1e-8.
    *
    * Scale: the day census rides ONE [[PrefixSum]] index pass; the
    * half-offset pairing is a census self-join on rn = rn+m (tiny);
    * no fact-sized window. Guards: S⁺+S⁻ = 0 (all pairs tied) → null. */
  def q263CoxStuart(s: SparkSession, dir: String): DataFrame = {
    // r20 (verdict mandate #2): the census size fused into the prefix
    // pass (row count ≡ the max-of-rn it replaced; zero extra jobs)
    val d0 = graft.ops.PrefixSum.withPrefixSumsAndTotals(
      daily(s, dir).select(col("day"), col("rev")),
      Seq(col("day")), Seq((lit(1L), "rn")), Nil,
      Seq((lit(1L), "n")))
      .select(col("rn"), col("rev"), col("n"))
      .localCheckpoint(eager = false)
    val m = expr("(n + 1) div 2") // integer div — `/` on Columns is double
    val a = d0.select(col("rn").as("i"), col("rev").as("x1"), col("n"))
    val b = d0.select(col("rn").as("j"), col("rev").as("x2"))
    // LEFT join + in-agg pair mask, not an inner-filtered pair set: on a
    // degenerate ≤1-pair-free corpus (n=1 ⇒ i ≤ n−m never holds) an agg
    // over the EMPTY inner join would null n_days/half_offset while the
    // mirror's scalar subqueries still report the real census values
    // (r12 ADVICE). The left form keeps every census row in the agg, so
    // max(n)/max(m) always carry, and s_up/s_dn are pinned to the
    // mirror's SUM-over-empty NULL via the pair count.
    val pairs = a.withColumn("m", m)
      .join(b, col("j") === col("i") + col("m") &&
        col("i") <= col("n") - col("m"), "left")
    val inPair = col("j").isNotNull
    val g = pairs.agg(max(col("n")).as("n_days"), max(col("m")).as("m"),
      sum(when(inPair, 1L).otherwise(0L)).as("np"),
      sum(when(inPair && col("x2") > col("x1"), 1L).otherwise(0L)).as("su"),
      sum(when(inPair && col("x2") < col("x1"), 1L).otherwise(0L)).as("sd"))
    val sUp = when(col("np") === 0, lit(null).cast("long"))
      .otherwise(col("su"))
    val sDn = when(col("np") === 0, lit(null).cast("long"))
      .otherwise(col("sd"))
    val tot = (sUp + sDn).cast("double")
    val z = (sUp - sDn).cast("double") / sqrt(tot)
    g.select(col("n_days"), col("m").as("half_offset"),
      sUp.as("s_up"), sDn.as("s_dn"),
      when(tot === 0, lit(null).cast("double"))
        .otherwise(round(z, 4) + 0.0).as("z"),
      when(tot === 0, lit(null).cast("double"))
        .otherwise(Parity.fix(StatFns.asTwoSidedP(z), 8)).as("p"))
  }

  val q263CoxStuartSql: String = {
    val z = "(CAST(s_up - s_dn AS DOUBLE) / SQRT(CAST(s_up + s_dn AS DOUBLE)))"
    s"""WITH d AS ($dailySql),
       |r AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn, rev FROM d),
       |n AS (SELECT CAST(MAX(rn) AS BIGINT) AS n,
       |  CAST((MAX(rn) + 1) // 2 AS BIGINT) AS m FROM r),
       |g AS (
       |  SELECT (SELECT n FROM n) AS n_days, (SELECT m FROM n) AS m,
       |    CAST(SUM(CASE WHEN b.rev > a.rev THEN 1 ELSE 0 END) AS BIGINT)
       |      AS s_up,
       |    CAST(SUM(CASE WHEN b.rev < a.rev THEN 1 ELSE 0 END) AS BIGINT)
       |      AS s_dn
       |  FROM r a JOIN r b ON b.rn = a.rn + (SELECT m FROM n)
       |  WHERE a.rn <= (SELECT n - m FROM n))
       |SELECT n_days, m AS half_offset, s_up, s_dn,
       |  CASE WHEN s_up + s_dn = 0 THEN NULL
       |    ELSE ROUND($z, 4) + 0 END AS z,
       |  CASE WHEN s_up + s_dn = 0 THEN NULL
       |    ELSE ${Parity.fixSql(StatFns.asTwoSidedPSql(z), 8)} END
       |    AS p
       |FROM g""".stripMargin
  }

  /** L192 turning-points randomness test (Kendall [PK], the classic
    * "peaks and troughs" check): count STRICT local extrema of the
    * daily-revenue series (a day beating or undercutting both
    * neighbors; plateau edges are not turning points — the tie
    * convention is pinned identically in both engines), with
    * E[T] = 2(n−2)/3 and Var[T] = (16n−29)/90 under the IID null.
    * Complements q237's runs test (runs sees sign clustering of
    * residuals; turning points see local oscillation rate of the raw
    * series — too FEW points means trend/momentum, too many means
    * antithetic noise).
    *
    * Parity: extremum flags are exact int comparisons on the census;
    * T/E/Var/z one double chain; p the shared A-S kernel at 1e-8.
    *
    * Scale: one day-census window (lag/lead over ≤|days| rows), 1-row
    * algebra. Guards: n < 3 → null. */
  def q264TurningPoints(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val d0 = daily(s, dir)
      .withColumn("xp", lag(col("rev"), 1).over(w))
      .withColumn("xn", lead(col("rev"), 1).over(w))
    val tp = when(col("xp").isNotNull && col("xn").isNotNull &&
      ((col("rev") > col("xp") && col("rev") > col("xn")) ||
        (col("rev") < col("xp") && col("rev") < col("xn"))), 1L)
      .otherwise(0L)
    val g = d0.agg(count(lit(1)).as("n_days"), sum(tp).as("t_points"))
    val nD = col("n_days").cast("double")
    val e = lit(2.0) * (nD - 2.0) / 3.0
    val v = (lit(16.0) * nD - 29.0) / 90.0
    val z = (col("t_points").cast("double") - e) / sqrt(v)
    g.select(col("n_days"), col("t_points"),
      when(col("n_days") < 3, lit(null).cast("double"))
        .otherwise(round(e, 4) + 0.0).as("expected"),
      when(col("n_days") < 3, lit(null).cast("double"))
        .otherwise(round(z, 4) + 0.0).as("z"),
      when(col("n_days") < 3, lit(null).cast("double"))
        .otherwise(Parity.fix(StatFns.asTwoSidedP(z), 8)).as("p"))
  }

  val q264TurningPointsSql: String = {
    val z = "((CAST(t_points AS DOUBLE) - 2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0)" +
      " / SQRT((16.0 * CAST(n_days AS DOUBLE) - 29.0) / 90.0))"
    s"""WITH d AS ($dailySql),
       |l AS (
       |  SELECT rev,
       |    LAG(rev) OVER (ORDER BY day) AS xp,
       |    LEAD(rev) OVER (ORDER BY day) AS xn
       |  FROM d),
       |g AS (
       |  SELECT COUNT(*) AS n_days,
       |    CAST(SUM(CASE WHEN xp IS NOT NULL AND xn IS NOT NULL
       |      AND ((rev > xp AND rev > xn) OR (rev < xp AND rev < xn))
       |      THEN 1 ELSE 0 END) AS BIGINT) AS t_points
       |  FROM l)
       |SELECT n_days, t_points,
       |  CASE WHEN n_days < 3 THEN NULL ELSE
       |    ROUND(2.0 * (CAST(n_days AS DOUBLE) - 2.0) / 3.0, 4) + 0 END
       |    AS expected,
       |  CASE WHEN n_days < 3 THEN NULL ELSE ROUND($z, 4) + 0 END AS z,
       |  CASE WHEN n_days < 3 THEN NULL ELSE
       |    ${Parity.fixSql(StatFns.asTwoSidedPSql(z), 8)} END AS p
       |FROM g""".stripMargin
  }

  /** L200 Lo–MacKinlay variance-ratio test, q = 5 (Lo & MacKinlay 1988
    * [PK]): on daily log-revenue returns r_t, VR(5) =
    * Var(x_t − x_{t−5}) / (5·Var(r_t)) — a random walk gives VR ≈ 1,
    * momentum VR > 1, mean-reversion VR < 1. The aggregation-horizon
    * consistency check beside q252's Hurst R/S (H and VR must tell the
    * same long-memory story; disagreement flags a scale-localized
    * artifact). z under homoskedasticity: (VR−1)/√(2(2q−1)(q−1)/(3qn)).
    *
    * Parity: per-day ln(rev) quantizes to nano-units ONCE (int64); both
    * return series are exact integer differences of those; variances
    * ride exact integer power sums (HUGEINT/decimal); VR/z one double
    * chain. The shared quantized-log base means the two variances can
    * never drift apart in the last ulp.
    *
    * Scale: day census + two lag windows over it; 1-row algebra.
    * Guards: n < q+2 or zero base variance → null. */
  def q265VarianceRatio(s: SparkSession, dir: String): DataFrame = {
    val q = 5
    val w = Window.orderBy("day")
    val d0 = daily(s, dir)
      .withColumn("lx",
        Parity.quant(log(col("rev").cast("double")), 1e9))
      .withColumn("r1", col("lx") - lag(col("lx"), 1).over(w))
      .withColumn("rq", col("lx") - lag(col("lx"), q).over(w))
    val g = d0.agg(
      sum(when(col("r1").isNotNull, 1L).otherwise(0L)).as("n1"),
      sum(col("r1").cast(dec)).as("s1"),
      sum(col("r1").cast(dec) * col("r1").cast(dec)).as("q1"),
      sum(when(col("rq").isNotNull, 1L).otherwise(0L)).as("nq"),
      sum(col("rq").cast(dec)).as("sq"),
      sum(col("rq").cast(dec) * col("rq").cast(dec)).as("qq"))
    val n1 = col("n1").cast("double")
    val nq = col("nq").cast("double")
    val v1 = (col("q1").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") / n1) / n1
    val vq = (col("qq").cast("double") -
      col("sq").cast("double") * col("sq").cast("double") / nq) / nq
    val vr = vq / (lit(q.toDouble) * v1)
    val z = (vr - 1.0) / sqrt(lit(2.0 * (2 * q - 1) * (q - 1)) /
      (lit(3.0 * q) * n1))
    val bad = col("n1") < q + 2 || v1 <= 0.0 || col("nq") < 2
    g.select(col("n1").as("n_returns"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(vr, 6) + 0.0).as("vr5"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(z, 4) + 0.0).as("z"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(StatFns.asTwoSidedP(z), 8)).as("p"))
  }

  val q265VarianceRatioSql: String = {
    val v1 = "((CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)" +
      " / CAST(n1 AS DOUBLE)) / CAST(n1 AS DOUBLE))"
    val vq = "((CAST(qq AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE)" +
      " / CAST(nq AS DOUBLE)) / CAST(nq AS DOUBLE))"
    val vr = s"($vq / (5.0 * $v1))"
    val z = s"(($vr - 1.0) / SQRT(2.0 * 9.0 * 4.0 / (15.0 * CAST(n1 AS DOUBLE))))"
    s"""WITH d AS ($dailySql),
       |l AS (
       |  SELECT ${Parity.quantSql("ln(CAST(rev AS DOUBLE))", 9)}
       |    AS lx, day
       |  FROM d),
       |r AS (
       |  SELECT lx - LAG(lx, 1) OVER (ORDER BY day) AS r1,
       |    lx - LAG(lx, 5) OVER (ORDER BY day) AS rq
       |  FROM l),
       |g AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN r1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n1,
       |    SUM(CAST(r1 AS HUGEINT)) AS s1,
       |    SUM(CAST(r1 AS HUGEINT) * r1) AS q1,
       |    CAST(SUM(CASE WHEN rq IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
       |      AS nq,
       |    SUM(CAST(rq AS HUGEINT)) AS sq,
       |    SUM(CAST(rq AS HUGEINT) * rq) AS qq
       |  FROM r)
       |SELECT n1 AS n_returns,
       |  CASE WHEN n1 < 7 OR $v1 <= 0.0 OR nq < 2 THEN NULL
       |    ELSE ROUND($vr, 6) + 0 END AS vr5,
       |  CASE WHEN n1 < 7 OR $v1 <= 0.0 OR nq < 2 THEN NULL
       |    ELSE ROUND($z, 4) + 0 END AS z,
       |  CASE WHEN n1 < 7 OR $v1 <= 0.0 OR nq < 2 THEN NULL
       |    ELSE ${Parity.fixSql(StatFns.asTwoSidedPSql(z), 8)} END
       |    AS p
       |FROM g""".stripMargin
  }

  /** L202 Hodges–Lehmann location estimate (Hodges & Lehmann 1963
    * [PK]) of recent daily revenue: the median of all Walsh averages
    * (xᵢ+xⱼ)/2, i ≤ j, over the trailing-365-day window — the
    * estimator the Wilcoxon family (q260) inverts, ~30% more
    * efficient than the plain median under near-normal noise and
    * still 29%-breakdown robust. Reported beside the plain median so
    * the gap itself is the skew diagnostic.
    *
    * Parity: Walsh sums xᵢ+xⱼ are exact int64; both medians are the
    * A10 exact-percentile contract (quantile_cont), displayed /2 at
    * 2dp. The plain median reads the DIAGONAL pairs (i = j, where
    * walsh = 2·rev) out of the same pair set — no separate
    * median-attach join.
    *
    * Scale: the q211/q251 checkpointed bounded pair build (≤365-day
    * census → ≤67k pairs — scale-constant); one exact percentile over
    * it. */
  def q262HodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily(s, dir))
    val recent = trailingYear(d).select(col("t"), col("rev"))
      .localCheckpoint(eager = false)
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")), col("a.t") <= col("b.t"))
      .select((col("a.rev") + col("b.rev")).as("walsh"),
        (col("a.t") === col("b.t")).as("diag"))
    pairs.agg(count(lit(1)).as("n_pairs"),
      expr("percentile(walsh, 0.5)").as("wmed"),
      expr("percentile(CASE WHEN diag THEN walsh END, 0.5)").as("dmed"))
      .select(col("n_pairs"),
        (round(col("wmed") / 2.0, 2) + 0.0).as("hodges_lehmann"),
        (round(col("dmed") / 2.0, 2) + 0.0).as("plain_median"))
  }

  val q262HodgesLehmannSql: String =
    s"""WITH d AS ($dailySql),
       |dd AS (${dayIndexedSql("d")}),
       |rc AS (SELECT t, rev ${trailingYearSql("dd")}),
       |p AS (
       |  SELECT a.rev + b.rev AS walsh, a.t = b.t AS diag
       |  FROM rc a JOIN rc b ON a.t <= b.t),
       |g AS (SELECT COUNT(*) AS n_pairs,
       |  quantile_cont(walsh, 0.5) AS wmed,
       |  quantile_cont(CASE WHEN diag THEN walsh END, 0.5) AS dmed
       |  FROM p)
       |SELECT n_pairs,
       |  ROUND(wmed / 2.0, 2) + 0 AS hodges_lehmann,
       |  ROUND(dmed / 2.0, 2) + 0 AS plain_median
       |FROM g""".stripMargin

  /** L278 seasonal Mann–Kendall ([PK] Hirsch & Slack 1984): the q248
    * trend screen computed WITHIN each day-of-week and summed —
    * S' = Σ_k S_k, Var' = Σ_k Var_k(tie-corrected) — so a genuine
    * drift is detected even when weekly seasonality masks it from the
    * whole-series statistic (cross-weekday pairs carry the seasonal
    * signal, not the trend; this estimator never compares a Monday to
    * a Sunday). Same recent-365-day cut as q248 so the two screens
    * read the same window.
    *
    * Parity: per-weekday pair signs and tie censuses are exact ints;
    * Var' is one double chain; z uses the q248 continuity correction,
    * 4dp.
    *
    * Scale: the q248 bounded shape, 7× smaller pair sets — within-
    * weekday pairs only (~7·(365/7)²/2 ≈ 9.5k candidates at ANY SF;
    * the window is calendar-constant). Both consumers of the cut
    * share one lazy checkpoint. */
  def q344SeasonalMk(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily(s, dir).select(col("day"),
      dayofweek(col("day")).cast("long").as("dow"), col("rev")))
    val recent = trailingYear(d).select(col("t"), col("dow"), col("rev"))
      .localCheckpoint(eager = false)
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")),
        col("a.dow") === col("b.dow") && col("a.t") < col("b.t"))
      .select(signum((col("b.rev") - col("a.rev")).cast("double"))
        .cast("long").as("sgn"))
    val sAgg = pairs.agg(sum(col("sgn")).as("s_stat"))
    // per-weekday tie census → per-weekday variance term, summed
    val ties = recent.groupBy("dow", "rev").agg(count(lit(1)).as("tc"))
      .groupBy("dow")
      .agg(sum(col("tc")).as("nk"),
        sum(col("tc") * (col("tc") - 1) * (lit(2) * col("tc") + 5))
          .as("tie_k"))
    val nkD = col("nk").cast("double")
    val varK = (nkD * (nkD - 1.0) * (lit(2.0) * nkD + 5.0) -
      col("tie_k").cast("double")) / 18.0
    val vAgg = ties.select(col("nk"),
        Parity.quant(varK, 1e6).as("v6"))
      .agg(sum(col("nk")).as("n"), count(lit(1)).as("k"),
        sum(col("v6")).as("sv6"))
    val varS = col("sv6").cast("double") / 1e6
    val z = when(col("s_stat") > 0,
        (col("s_stat").cast("double") - 1.0) / sqrt(varS))
      .when(col("s_stat") < 0,
        (col("s_stat").cast("double") + 1.0) / sqrt(varS))
      .otherwise(lit(0.0))
    sAgg.crossJoin(broadcast(vAgg))
      .select(col("n").cast("long").as("n_days"),
        col("k").cast("long").as("n_seasons"),
        col("s_stat"),
        (round(z, 4) + 0.0).as("z_smk"),
        Parity.fix(StatFns.asTwoSidedP(z), 8).as("p"),
        when(col("s_stat") > 0, lit("increasing"))
          .when(col("s_stat") < 0, lit("decreasing"))
          .otherwise(lit("none")).as("trend"))
  }

  val q344SeasonalMkSql: String = {
    val z = """(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
      | / SQRT(CAST(sv6 AS DOUBLE) / 1e6)
      | WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
      | / SQRT(CAST(sv6 AS DOUBLE) / 1e6)
      | ELSE 0.0 END)""".stripMargin.replace("\n", " ")
    s"""WITH d AS ($dailySql),
       |dw AS (SELECT day, CAST(dayofweek(day) + 1 AS BIGINT) AS dow, rev
       |  FROM d),
       |dd AS (${dayIndexedSql("dw")}),
       |rc AS (SELECT t, dow, rev ${trailingYearSql("dd")}),
       |sa AS (
       |  SELECT CAST(SUM(CASE WHEN b.rev > a.rev THEN 1
       |    WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
       |  FROM rc a JOIN rc b ON a.dow = b.dow AND a.t < b.t),
       |tk AS (
       |  SELECT dow, CAST(SUM(tc) AS BIGINT) AS nk,
       |    CAST(SUM(tc * (tc - 1) * (2 * tc + 5)) AS BIGINT) AS tie_k
       |  FROM (SELECT dow, rev, COUNT(*) AS tc FROM rc GROUP BY dow, rev)
       |  GROUP BY dow),
       |va AS (
       |  SELECT CAST(SUM(nk) AS BIGINT) AS n, COUNT(*) AS k,
       |    CAST(SUM(
       |      ${Parity.quantSql("(CAST(nk AS DOUBLE) * (nk - 1)" +
                                " * (2 * CAST(nk AS DOUBLE) + 5) - CAST(tie_k AS DOUBLE))" +
                                " / 18.0", 6)}
       |      ) AS BIGINT) AS sv6
       |  FROM tk)
       |SELECT n AS n_days, CAST(k AS BIGINT) AS n_seasons, s_stat,
       |  ROUND($z, 4) + 0 AS z_smk,
       |  ${Parity.fixSql(StatFns.asTwoSidedPSql(z), 8)} AS p,
       |  CASE WHEN s_stat > 0 THEN 'increasing'
       |    WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
       |FROM sa, va""".stripMargin
  }

  /** L281 Qn robust scale ([PK] Rousseeuw & Croux 1992): the k-th
    * smallest pairwise |xᵢ−xⱼ| with k = h(h−1)/2, h = ⌊n/2⌋+1, scaled
    * by the Gaussian-consistency constant 2.2219 — 50% breakdown AND
    * 82% Gaussian efficiency (MAD has 37%), location-free (no
    * median/mean subtraction at all). Reported beside the classical
    * sd on the same recent-365-day revenue window; their ratio is the
    * heavy-tail/contamination readout (≈1 Gaussian, ≪1 outlier-
    * inflated sd).
    *
    * Parity: pairwise |diffs| are exact int64; the k-th order
    * statistic is an exact selection (ties cannot change the value at
    * rank k, so any tie order gives the same result); sd from exact
    * DECIMAL moments, whole units; Qn and the ratio one double chain
    * (4dp/6dp).
    *
    * Scale: the q262 bounded Walsh shape — the 365-day window caps
    * pairs at ~66k at ANY SF; the single-partition rank window is
    * over that bounded set (the q205 honest-plan note). One 1-row
    * (n, k, sd) broadcast picks the rank (q242 form). */
  def q347QnScale(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily(s, dir))
    val recent = trailingYear(d).select(col("t"), col("rev"))
      .localCheckpoint(eager = false)
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")), col("a.t") < col("b.t"))
      .select(abs(col("a.rev") - col("b.rev")).as("ad"))
    def f(c: Column) = c.cast("double")
    val meta = recent.agg(count(lit(1)).as("n"),
        sum(col("rev").cast(dec)).as("sx"),
        sum(col("rev").cast(dec) * col("rev").cast(dec)).as("qx"))
      .select(col("n"),
        // h(h-1)/2 with h = n div 2 + 1 — Spark's `/` on longs is a
        // DOUBLE divide; `div` is the integer one
        expr("((n div 2) + 1) * (n div 2) div 2").as("k"),
        floor(sqrt((f(col("n")) * f(col("qx")) - f(col("sx")) *
          f(col("sx"))) / (f(col("n")) * (f(col("n")) - 1.0))) + 0.5)
          .cast("long").as("sd"))
    val ranked = pairs
      .withColumn("rn", row_number().over(Window.orderBy(col("ad"))))
      .crossJoin(broadcast(meta))
      .filter(col("rn") === col("k"))
    val qn = lit(2.2219) * f(col("ad"))
    ranked.select(col("n").cast("long").as("n_days"),
      expr("n * (n - 1) div 2").cast("long").as("n_pairs"),
      col("k").cast("long").as("k_rank"),
      col("ad").cast("long").as("qn_raw"),
      Parity.fix(qn, 4)
        .as("qn"),
      col("sd").cast("long").as("sd"),
      Parity.fix(qn / f(col("sd")), 6).as("qn_over_sd"))
  }

  val q347QnScaleSql: String =
    s"""WITH d AS ($dailySql),
       |dd AS (${dayIndexedSql("d")}),
       |rc AS (SELECT t, rev ${trailingYearSql("dd")}),
       |meta AS (
       |  SELECT COUNT(*) AS n,
       |    ((COUNT(*) // 2) + 1) * (COUNT(*) // 2) // 2 AS k,
       |    CAST(FLOOR(SQRT((CAST(COUNT(*) AS DOUBLE)
       |        * CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE)
       |      - CAST(SUM(CAST(rev AS HUGEINT)) AS DOUBLE)
       |        * CAST(SUM(CAST(rev AS HUGEINT)) AS DOUBLE))
       |      / (CAST(COUNT(*) AS DOUBLE)
       |        * (CAST(COUNT(*) AS DOUBLE) - 1.0))) + 0.5) AS BIGINT)
       |      AS sd
       |  FROM rc),
       |p AS (
       |  SELECT ABS(a.rev - b.rev) AS ad,
       |    ROW_NUMBER() OVER (ORDER BY ABS(a.rev - b.rev)) AS rn
       |  FROM rc a JOIN rc b ON a.t < b.t),
       |pick AS (
       |  SELECT p.ad, meta.n, meta.k, meta.sd
       |  FROM p CROSS JOIN meta WHERE p.rn = meta.k)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  CAST(n * (n - 1) // 2 AS BIGINT) AS n_pairs,
       |  CAST(k AS BIGINT) AS k_rank, CAST(ad AS BIGINT) AS qn_raw,
       |  ${Parity.fixSql("2.2219 * CAST(ad AS DOUBLE)", 4)} + 0
       |    AS qn,
       |  CAST(sd AS BIGINT) AS sd,
       |  ${Parity.fixSql("2.2219 * CAST(ad AS DOUBLE) / CAST(sd AS DOUBLE)", 6)}
       |    + 0 AS qn_over_sd
       |FROM pick""".stripMargin

  /** L299 Bartels rank von Neumann ratio ([PK] Bartels 1982) — the
    * RANK analogue of von Neumann's successive-difference test,
    * distribution-free against serial dependence of any monotone
    * shape: RVN = Σ(R_i − R_{i+1})² / Σ(R_i − R̄)², ≈ 2 under
    * randomness, → 0 under positive rank autocorrelation. Run per
    * year on TWO series — the raw daily revenue census AND its 7-day
    * rolling sum — so the query is its own power demonstration: the
    * rolling sum mechanically induces strong positive dependence
    * (adjacent windows share 6 of 7 days) and must reject hard
    * (z ≈ −10…−16 at fixture SFs), while the raw series sits inside
    * the null band. Complements q237 (sign runs), q264 (turning
    * points), and q265 (variance ratio) — ranks see what signs and
    * raw moments each miss.
    *
    * Parity: ranks are tie-free by construction (row_number over the
    * exact (value, day) order — both engines sort identical int64
    * pairs), so the numerator is an exact int64 lag sum and the
    * denominator collapses to the closed form n(n²−1)/12; RVN and
    * Bartels' exact-moment z = (RVN−2)/√(4(n−2)(5n²−2n−9)/(5n(n+1)(n−1)²))
    * are one double chain each from exact integers, 6dp/4dp; the
    * reject flag compares the already-quantized z.
    *
    * Scale: one fact-scan day rollup; the rolling sum, the per-
    * (series, year) rank window, and the lag window all run over the
    * scale-CONSTANT ~2,400-row census; output ≤ 14 rows. */
  def q364BartelsRvn(s: SparkSession, dir: String): DataFrame = {
    val b = daily(s, dir)
      .withColumn("ma7", sum(col("rev"))
        .over(Window.orderBy("day").rowsBetween(-6, 0)))
      .withColumn("pos", row_number().over(Window.orderBy("day")))
    val ser = b.select(lit("raw").as("series"), year(col("day")).as("yr"),
        col("day"), col("rev").as("v"))
      .unionByName(b.filter(col("pos") >= 7)
        .select(lit("ma7").as("series"), year(col("day")).as("yr"),
          col("day"), col("ma7").as("v")))
    val rk = ser.withColumn("rk",
      row_number().over(Window.partitionBy("series", "yr")
        .orderBy("v", "day")).cast("long"))
    val sq = rk.withColumn("nxt",
      lead(col("rk"), 1).over(Window.partitionBy("series", "yr")
        .orderBy("day")))
    val m = sq.groupBy("series", "yr").agg(
      count(lit(1)).as("n"),
      sum(when(col("nxt").isNull, 0L)
        .otherwise((col("rk") - col("nxt")) * (col("rk") - col("nxt"))))
        .as("num"))
    def f(c: String) = col(c).cast("double")
    val n = f("n")
    // ANSI-safe divisors (the q370 hoisting note): clamp exact zeros
    // (n = 1/2 on adversarial data); identity whenever the n < 10
    // guard isn't already nulling the row
    def safe(c: Column) = greatest(c, lit(1e-300))
    val rvn = lit(12.0) * f("num") / safe(n * (n * n - 1.0))
    val z = (rvn - 2.0) / safe(sqrt(lit(4.0) * (n - 2.0) *
      (lit(5.0) * n * n - n * 2.0 - 9.0) /
      safe(lit(5.0) * n * (n + 1.0) * (n - 1.0) * (n - 1.0))))
    val bad = col("n") < 10L
    m.select(col("series"), col("yr").cast("long").as("yr"),
        col("n").as("n_days"),
        when(bad, lit(null).cast("double")).otherwise(Parity.fix(rvn,
          6)).as("rvn"),
        when(bad, lit(null).cast("double")).otherwise(Parity.fix(z, 4)).as("z"),
        when(bad, lit(null).cast("long"))
          .otherwise((abs(Parity.fix(z,
            4)) > 1.96).cast("long")).as("reject_5pct"))
      .orderBy("series", "yr")
  }

  /** L314 records-count randomness test ([PK] records theory — Rényi
    * 1962; Glick 1978): in an iid sequence the expected number of
    * UPPER records (running maxima) in n observations is the harmonic
    * number H_n with variance H_n − H_n⁽²⁾ — observed record excess is
    * a trend/heavy-tail screen orthogonal to ranks (q364), signs
    * (q237), and turning points (q264). Run on the raw daily census
    * AND its 7-day rolling sum (the q364 power convention): smoothing
    * concentrates the trend, so the smoothed series sets MORE records
    * (z 2.2/4.9 vs 0.6/3.0 measured); lower records (running minima)
    * published beside — under uptrend, up ≫ down.
    *
    * Parity: record events are exact integer comparisons against the
    * strictly-preceding window max/min; H_n and H_n⁽²⁾ accumulate
    * 1/i and 1/i² terms PICO-quantized (1e12) before the sum
    * (seed-122 convention — both engines sum identical int64); z is
    * one double chain, 4dp.
    *
    * Scale: the q364 shape — one fact-scan day rollup, bounded
    * windows over the scale-constant census, 2-row output. */
  def q379RecordsTest(s: SparkSession, dir: String): DataFrame = {
    val b = daily(s, dir)
      .withColumn("ma7", sum(col("rev"))
        .over(Window.orderBy("day").rowsBetween(-6, 0)))
      .withColumn("pos", row_number().over(Window.orderBy("day")))
    val ser = b.select(lit("raw").as("series"), col("day"),
        col("rev").as("v"))
      .unionByName(b.filter(col("pos") >= 7)
        .select(lit("ma7").as("series"), col("day"), col("ma7").as("v")))
    val wPrev = Window.partitionBy("series").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSer = Window.partitionBy("series").orderBy("day")
    val marked = ser
      .withColumn("up", when(max(col("v")).over(wPrev).isNull ||
        col("v") > max(col("v")).over(wPrev), 1L).otherwise(0L))
      .withColumn("dn", when(min(col("v")).over(wPrev).isNull ||
        col("v") < min(col("v")).over(wPrev), 1L).otherwise(0L))
      .withColumn("i", row_number().over(wSer).cast("long"))
      .withColumn("h1p", floor(lit(1e12) / col("i").cast("double") + 0.5)
        .cast("long"))
      .withColumn("h2p", floor(lit(1e12) /
        (col("i") * col("i")).cast("double") + 0.5).cast("long"))
    val m = marked.groupBy("series").agg(
      count(lit(1)).as("n"),
      sum(col("up")).as("rec_up"), sum(col("dn")).as("rec_dn"),
      sum(col("h1p")).as("h1"), sum(col("h2p")).as("h2"))
    val hn = col("h1").cast("double") / 1e12
    val h2n = col("h2").cast("double") / 1e12
    val z = (col("rec_up").cast("double") - hn) /
      greatest(sqrt(hn - h2n), lit(1e-300))
    val bad = col("n") < 10L
    m.select(col("series"), col("n").as("n_days"),
        col("rec_up"), col("rec_dn"),
        when(bad, lit(null).cast("double")).otherwise(Parity.fix(hn, 4))
          .as("e_records"),
        when(bad, lit(null).cast("double")).otherwise(Parity.fix(z, 4))
          .as("z_up"),
        when(bad, lit(null).cast("long"))
          .otherwise((abs(Parity.fix(z,
            4)) > 1.96).cast("long")).as("reject_5pct"))
      .orderBy("series")
  }

  val q379RecordsTestSql: String =
    s"""WITH d AS ($dailySql),
       |b AS (
       |  SELECT day, rev,
       |    CAST(SUM(rev) OVER (ORDER BY day
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7,
       |    ROW_NUMBER() OVER (ORDER BY day) AS pos
       |  FROM d),
       |ser AS (
       |  SELECT 'raw' AS series, day, rev AS v FROM b
       |  UNION ALL
       |  SELECT 'ma7', day, ma7 FROM b WHERE pos >= 7),
       |marked AS (
       |  SELECT series,
       |    CASE WHEN MAX(v) OVER (PARTITION BY series ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR v > MAX(v) OVER (PARTITION BY series ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      THEN 1 ELSE 0 END AS up,
       |    CASE WHEN MIN(v) OVER (PARTITION BY series ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
       |      OR v < MIN(v) OVER (PARTITION BY series ORDER BY day
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |      THEN 1 ELSE 0 END AS dn,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY series ORDER BY day)
       |      AS BIGINT) AS i
       |  FROM ser),
       |m AS (
       |  SELECT series, COUNT(*) AS n,
       |    CAST(SUM(up) AS BIGINT) AS rec_up,
       |    CAST(SUM(dn) AS BIGINT) AS rec_dn,
       |    CAST(SUM(CAST(FLOOR(1e12 / CAST(i AS DOUBLE) + 0.5)
       |      AS BIGINT)) AS BIGINT) AS h1,
       |    CAST(SUM(CAST(FLOOR(1e12 / CAST(i * i AS DOUBLE) + 0.5)
       |      AS BIGINT)) AS BIGINT) AS h2
       |  FROM marked GROUP BY series)
       |SELECT series, CAST(n AS BIGINT) AS n_days, rec_up, rec_dn,
       |  CASE WHEN n < 10 THEN NULL
       |    ELSE ${Parity.fixSql("CAST(h1 AS DOUBLE) / 1e12", 4)} + 0
       |    END AS e_records,
       |  CASE WHEN n < 10 THEN NULL
       |    ELSE ${Parity.fixSql("(rec_up - CAST(h1 AS DOUBLE) / 1e12)" +
                                 " / GREATEST(sqrt(CAST(h1 AS DOUBLE) / 1e12" +
                                 " - CAST(h2 AS DOUBLE) / 1e12), 1e-300)", 4)}
       |      + 0 END AS z_up,
       |  CASE WHEN n < 10 THEN NULL
       |    ELSE CAST(CASE WHEN ABS(
       |      ${Parity.fixSql("(rec_up" +
                              " - CAST(h1 AS DOUBLE) / 1e12)" +
                              " / GREATEST(sqrt(CAST(h1 AS DOUBLE) / 1e12" +
                              " - CAST(h2 AS DOUBLE) / 1e12), 1e-300)", 4)}
       |      + 0) > 1.96 THEN 1 ELSE 0 END AS BIGINT) END
       |    AS reject_5pct
       |FROM m ORDER BY series""".stripMargin

  val q364BartelsRvnSql: String =
    s"""WITH d AS ($dailySql),
       |b AS (
       |  SELECT day, rev,
       |    CAST(SUM(rev) OVER (ORDER BY day
       |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS ma7,
       |    ROW_NUMBER() OVER (ORDER BY day) AS pos
       |  FROM d),
       |ser AS (
       |  SELECT 'raw' AS series, date_part('year', day) AS yr, day,
       |    rev AS v FROM b
       |  UNION ALL
       |  SELECT 'ma7', date_part('year', day), day, ma7
       |  FROM b WHERE pos >= 7),
       |r AS (
       |  SELECT series, yr, day,
       |    ROW_NUMBER() OVER (PARTITION BY series, yr ORDER BY v, day)
       |      AS rk
       |  FROM ser),
       |sq AS (
       |  SELECT series, yr, rk,
       |    LEAD(rk) OVER (PARTITION BY series, yr ORDER BY day) AS nxt
       |  FROM r),
       |m AS (
       |  SELECT series, yr, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN nxt IS NULL THEN 0
       |      ELSE (rk - nxt) * (rk - nxt) END) AS BIGINT) AS num
       |  FROM sq GROUP BY series, yr),
       |fin AS (
       |  SELECT series, yr, n, num,
       |    12.0 * num / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0))
       |      AS rvn,
       |    (12.0 * num / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0))
       |      - 2.0)
       |      / sqrt(4.0 * (n - 2.0) * (5.0 * CAST(n AS DOUBLE) * n
       |          - 2.0 * n - 9.0)
       |        / (5.0 * CAST(n AS DOUBLE) * (n + 1.0) * (n - 1.0)
       |          * (n - 1.0))) AS z
       |  FROM m)
       |SELECT series, CAST(yr AS BIGINT) AS yr, CAST(n AS BIGINT)
       |    AS n_days,
       |  CASE WHEN n < 10 THEN NULL
       |    ELSE ${Parity.fixSql("rvn", 6)} + 0 END AS rvn,
       |  CASE WHEN n < 10 THEN NULL
       |    ELSE ${Parity.fixSql("z", 4)} + 0 END AS z,
       |  CASE WHEN n < 10 THEN NULL
       |    ELSE CAST(CASE WHEN ABS(${Parity.fixSql("z", 4)} + 0) > 1.96
       |      THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
       |FROM fin ORDER BY series, yr""".stripMargin

  /** L323 Page–Hinkley changepoint monitor *(added r17; [PK] Page
    * 1954; Hinkley 1971; the standard drift detector of the data-
    * stream literature, e.g. Gama et al. 2014 survey)*: the
    * sequential mean-shift detector CUSUM (q148) is usually run as —
    * PH_t = S_t − min_{τ≤t} S_τ with S_t = Σ(x_i − x̄ − δ), firing
    * when the cumulative excess over the drift allowance δ exceeds
    * λ. Run over the daily-revenue census with the PINNED integer
    * convention δ·N = T div 20 (δ = 5 % of the mean) and λ = x̄ (one
    * mean-sized excess): reports the peak PH, its day (the
    * changepoint estimate), and the detection flag.
    *
    * Parity: everything up to the final normalization is EXACT
    * integer arithmetic in N-scaled units — S′_t = N·C_t − t·(T +
    * D), D = T div 20, all DECIMAL(38); the running min/max are
    * integer comparisons; the only doubles are the two 6dp-floored
    * output normalizations. Argmax day is tie-broken by latest day
    * (deterministic on both engines).
    *
    * Scale: one fact-scan day rollup; every window runs over the
    * scale-constant day census (the q205/q379 documented shape);
    * 1-row output. */
  def q388PageHinkley(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val tot = d.agg(count(lit(1)).as("nn"), sum(col("rev")).as("tt"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val ph = d.crossJoin(broadcast(tot))
      .withColumn("t", count(lit(1)).over(wCum).cast("long"))
      .withColumn("cum", sum(col("rev")).over(wCum))
      .withColumn("s", col("nn").cast(dec) * col("cum").cast(dec) -
        col("t").cast(dec) *
          (col("tt") + expr("tt div 20")).cast(dec))
      .withColumn("m", min(col("s")).over(wCum))
      .withColumn("ph", col("s") - col("m"))
      .withColumn("mx", max(col("s") - col("m")).over(wAll))
    val peak = ph.filter(col("ph") === col("mx"))
      .groupBy("nn", "tt", "mx")
      .agg(max(col("day")).as("change_day"))
    def dd(c: Column) = c.cast("double")
    // normalized peak in mean-units: PH′/(N·x̄) = PH′/T
    val phMean = dd(col("mx")) / dd(col("tt"))
    peak.select(col("nn").as("n_days"), col("change_day"),
        Parity.fix(phMean, 6).as("ph_max_mean_units"),
        (phMean > 1.0).cast("long").as("detected"))
  }

  val q388PageHinkleySql: String =
    s"""WITH d AS ($dailySql),
       |tot AS (
       |  SELECT COUNT(*) AS nn, CAST(SUM(CAST(rev AS HUGEINT))
       |    AS HUGEINT) AS tt
       |  FROM d),
       |c AS (
       |  SELECT day,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS t,
       |    CAST(SUM(CAST(rev AS HUGEINT)) OVER (ORDER BY day
       |      ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS cum
       |  FROM d),
       |s AS (
       |  SELECT day, t,
       |    CAST(nn AS HUGEINT) * cum - t * (tt + tt // 20) AS sv,
       |    nn, tt
       |  FROM c CROSS JOIN tot),
       |p AS (
       |  SELECT day, nn, tt,
       |    sv - MIN(sv) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |      AS ph
       |  FROM s),
       |p2 AS (SELECT *, MAX(ph) OVER () AS mx FROM p)
       |SELECT CAST(nn AS BIGINT) AS n_days,
       |  MAX(day) AS change_day,
       |  ${Parity.fixSql("CAST(mx AS DOUBLE) / CAST(tt AS DOUBLE)", 6)}
       |    + 0 AS ph_max_mean_units,
       |  CAST(CASE WHEN CAST(mx AS DOUBLE) / CAST(tt AS DOUBLE) > 1.0
       |    THEN 1 ELSE 0 END AS BIGINT) AS detected
       |FROM p2 WHERE ph = mx
       |GROUP BY nn, tt, mx""".stripMargin

  /** L332 CUSUM-of-squares variance-break monitor *(added r17; [PK]
    * Brown, Durbin & Evans 1975)* — the VARIANCE sibling of q148's
    * mean CUSUM and q388's Page–Hinkley: s_t = Σ_{i≤t}x²_i / Σx²
    * should track t/N under homoscedasticity, so sup_t |s_t − t/N|
    * (scaled by √(N/2) against the 1.358 Brownian-bridge 5 %
    * critical value — the standard large-sample approximation,
    * pinned) locates WHERE the series' second moment shifts. On
    * TPC-H the daily revenue VARIANCE is homogeneous even though the
    * MEAN trends (q388 fires, this does not: bde 0.92/0.67 measured
    * at sf0.001/0.01) — an honest null that, read BESIDE q388, is
    * the textbook demonstration the two monitors answer different
    * questions; non-degeneracy rides the located break day and the
    * strictly positive sup.
    *
    * Parity: daily revenues in whole dollars; x², cumulative sums,
    * and the argmax numerator |N·cumq − t·Q| are all exact
    * DECIMAL(38)/HUGEINT — the argmax is engine-exact, ties to the
    * latest day; only the two output normalizations are doubles,
    * 6dp/4dp.
    *
    * Scale: the q388 documented census shape (one fact-scan day
    * rollup, windows over the scale-constant day census); 1-row
    * output. */
  def q397CusumSquares(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir).withColumn("x2",
      col("rev").cast(dec) * col("rev").cast(dec))
    val tot = d.agg(count(lit(1)).as("nn"), sum(col("x2")).as("qq"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val c = d.crossJoin(broadcast(tot))
      .withColumn("t", count(lit(1)).over(wCum).cast("long"))
      .withColumn("cumq", sum(col("x2")).over(wCum))
      .withColumn("dev", abs(col("nn").cast(dec) * col("cumq") -
        col("t").cast(dec) * col("qq")))
      .withColumn("mx", max(abs(col("nn").cast(dec) * col("cumq") -
        col("t").cast(dec) * col("qq"))).over(wAll))
    val peak = c.filter(col("dev") === col("mx"))
      .groupBy("nn", "qq", "mx")
      .agg(max(col("day")).as("break_day"))
    def dd(c2: Column) = c2.cast("double")
    val sup = dd(col("mx")) /
      (dd(col("nn")) * greatest(dd(col("qq")), lit(1e-300)))
    val stat = sqrt(dd(col("nn")) / 2.0) * sup
    peak.select(col("nn").as("n_days"), col("break_day"),
      Parity.fix(sup, 6).as("sup_deviation"),
      Parity.fix(stat, 4).as("bde_stat"),
      (Parity.fix(stat, 4) > 1.358).cast("long")
        .as("reject_5pct"))
  }

  val q397CusumSquaresSql: String =
    s"""WITH d AS ($dailySql),
       |d2 AS (SELECT day, CAST(rev AS HUGEINT) * rev AS x2 FROM d),
       |tot AS (
       |  SELECT COUNT(*) AS nn, CAST(SUM(x2) AS HUGEINT) AS qq FROM d2),
       |c AS (
       |  SELECT day,
       |    CAST(ROW_NUMBER() OVER (ORDER BY day) AS HUGEINT) AS t,
       |    CAST(SUM(x2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |      AS HUGEINT) AS cumq
       |  FROM d2),
       |p AS (
       |  SELECT day, nn, qq,
       |    ABS(CAST(nn AS HUGEINT) * cumq - t * qq) AS dev
       |  FROM c CROSS JOIN tot),
       |p2 AS (SELECT *, MAX(dev) OVER () AS mx FROM p),
       |f AS (
       |  SELECT nn, qq, mx, MAX(day) AS break_day
       |  FROM p2 WHERE dev = mx
       |  GROUP BY nn, qq, mx)
       |SELECT CAST(nn AS BIGINT) AS n_days, break_day,
       |  ${Parity.fixSql("CAST(mx AS DOUBLE)" +
                          " / (CAST(nn AS DOUBLE) * GREATEST(CAST(qq AS DOUBLE), 1e-300))", 6)}
       |    + 0 AS sup_deviation,
       |  ${Parity.fixSql("SQRT(CAST(nn AS DOUBLE) / 2.0) * CAST(mx AS DOUBLE)" +
                          " / (CAST(nn AS DOUBLE) * GREATEST(CAST(qq AS DOUBLE), 1e-300))", 4)}
       |    + 0 AS bde_stat,
       |  CAST(CASE WHEN
       |    ${Parity.fixSql("SQRT(CAST(nn AS DOUBLE) / 2.0)" +
                            " * CAST(mx AS DOUBLE)" +
                            " / (CAST(nn AS DOUBLE) * GREATEST(CAST(qq AS DOUBLE), 1e-300))", 4)}
       |      + 0 > 1.358 THEN 1 ELSE 0 END AS BIGINT)
       |    AS reject_5pct
       |FROM f""".stripMargin
}
