package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inference diagnostics, split out of EvalQueries in round 17 (the
  * file was at 1,779 lines — the same review-locality seam as the
  * r15/r16 splits; EvalQueries keeps the inter-rater agreement /
  * reliability family that shares the three-screen `raters` table).
  * Family: two-sample scale/location-scale tests on order values
  * (q288 Ansari–Bradley, q289 Cucconi), distribution/normality and
  * correlation diagnostics (q291 D'Agostino–Pearson K², q293 partial
  * correlation), the ratio-metric delta-method CI (q287), and the
  * regression stack's exact distributed members (q298 OLS via Gram
  * matrix, q299 isotonic PAV calibration, q306 Breusch–Pagan).
  * Every member keeps its original discipline: a DuckDB mirror from
  * the same census algebra, StatBruteSpec sequential references, and
  * map-side collapse to value/group censuses before any window or
  * join.
  */
object InferenceDiagnostics {

  /** L220 delta-method ratio-metric CI ([PK] Cochran 1977 ratio
    * estimation; Deng, Knoblich & Lu 2018 for the A/B framing):
    * revenue-per-event per experiment arm. The metric is a ratio of
    * SUMS R = ΣY/ΣN (not a mean of per-user ratios), so its sampling
    * variance needs the linearization var(R̂) ≈ Σ(y_i − R n_i)² /
    * (n(n−1) n̄²) over per-USER totals (users are the randomization
    * unit — the q273 arm assignment, user_id parity). The per-arm
    * 95% CI is R ± 1.96·se.
    *
    * Parity: Σ(y−Rn)² expands algebraically to Σy² − 2RΣyn + R²Σn² —
    * the five moment sums are exact cents-int64/DECIMAL, so the
    * double chain (division, multiply, IEEE-exact sqrt) is
    * order-independent; outputs 6dp (4dp for the cents-scaled means).
    *
    * Scale: one per-user agg, one 2-row arm agg — no joins beyond the
    * final 2-row frame. Guards: arms with < 2 users or zero event
    * mass → null CI. */
  def q287RatioCi(s: SparkSession, dir: String): DataFrame = {
    val peru = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .groupBy("user_id")
      .agg(coalesce(sum(Parity.quant(col("value"), 100.0)),
        lit(0L)).as("y"),
        count(lit(1)).as("m"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
    val a = peru.groupBy("arm").agg(count(lit(1)).as("n_users"),
      sum(col("y").cast(dec)).as("sy"), sum(col("m").cast(dec)).as("sm"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"),
      sum(col("y").cast(dec) * col("m").cast(dec)).as("sym"),
      sum(col("m").cast(dec) * col("m").cast(dec)).as("smm"))
    val nD = col("n_users").cast("double")
    val r = col("sy").cast("double") / col("sm").cast("double")
    val mbar = col("sm").cast("double") / nD
    val ssq = col("syy").cast("double") - lit(2.0) * r *
      col("sym").cast("double") + r * r * col("smm").cast("double")
    val varR = ssq / (nD * (nD - 1.0) * mbar * mbar)
    val se = sqrt(varR)
    val bad = col("n_users") < 2L || col("sm").cast("double") <= 0.0
    a.select(col("arm"), col("n_users"),
        col("sm").cast("long").as("n_events"),
        (round(r / 100.0, 6) + 0.0).as("rev_per_event"),
        when(bad, lit(null).cast("double"))
          .otherwise(round(se / 100.0, 6) + 0.0).as("se"),
        when(bad, lit(null).cast("double"))
          .otherwise(round((r - lit(1.96) * se) / 100.0, 6) + 0.0)
          .as("ci_lo"),
        when(bad, lit(null).cast("double"))
          .otherwise(round((r + lit(1.96) * se) / 100.0, 6) + 0.0)
          .as("ci_hi"))
      .orderBy("arm")
  }


  val q287RatioCiSql: String =
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(COALESCE(SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)),
      |      0) AS BIGINT) AS y,
      |    COUNT(*) AS m,
      |    user_id % 2 AS arm
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |a AS (
      |  SELECT arm, COUNT(*) AS n_users,
      |    CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(m) AS HUGEINT) AS sm,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(SUM(CAST(y AS HUGEINT) * m) AS HUGEINT) AS sym,
      |    CAST(SUM(CAST(m AS HUGEINT) * m) AS HUGEINT) AS smm
      |  FROM u GROUP BY arm),
      |c AS (
      |  SELECT arm, n_users, sm,
      |    CAST(sy AS DOUBLE) / CAST(sm AS DOUBLE) AS r,
      |    (CAST(syy AS DOUBLE)
      |      - 2.0 * (CAST(sy AS DOUBLE) / CAST(sm AS DOUBLE))
      |        * CAST(sym AS DOUBLE)
      |      + (CAST(sy AS DOUBLE) / CAST(sm AS DOUBLE))
      |        * (CAST(sy AS DOUBLE) / CAST(sm AS DOUBLE))
      |        * CAST(smm AS DOUBLE))
      |    / (CAST(n_users AS DOUBLE) * (CAST(n_users AS DOUBLE) - 1.0)
      |       * (CAST(sm AS DOUBLE) / n_users)
      |       * (CAST(sm AS DOUBLE) / n_users)) AS varr
      |  FROM a)
      |SELECT arm, n_users, CAST(sm AS BIGINT) AS n_events,
      |  ROUND(r / 100.0, 6) + 0 AS rev_per_event,
      |  CASE WHEN n_users < 2 OR sm <= 0 THEN NULL
      |    ELSE ROUND(SQRT(varr) / 100.0, 6) + 0 END AS se,
      |  CASE WHEN n_users < 2 OR sm <= 0 THEN NULL
      |    ELSE ROUND((r - 1.96 * SQRT(varr)) / 100.0, 6) + 0 END AS ci_lo,
      |  CASE WHEN n_users < 2 OR sm <= 0 THEN NULL
      |    ELSE ROUND((r + 1.96 * SQRT(varr)) / 100.0, 6) + 0 END AS ci_hi
      |FROM c ORDER BY arm""".stripMargin


  /** The URGENT-vs-LOW cents census of the rank scale tests: per
    * order price `pc` in int64 cents (HALF_UP), the order count `cnt`
    * and the 1-URGENT count `c1` over orders of priority 1-URGENT or
    * 5-LOW (q288, q289). [[urgentCentsCensusSql]] is its oracle twin;
    * the two change together. */
  private[ops] def urgentCentsCensus(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(expr("cast(round(o_totalprice * 100) as bigint)").as("pc"),
        (col("o_orderpriority") === "1-URGENT").cast("long").as("g1"))
      .groupBy("pc")
      .agg(count(lit(1)).as("cnt"), sum(col("g1")).as("c1"))

  /** The oracle twin of [[urgentCentsCensus]]; the two change together. */
  private[ops] val urgentCentsCensusSql: String =
    """SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    COUNT(*) AS cnt,
      |    CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0
      |      END) AS BIGINT) AS c1
      |  FROM orders
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
      |  GROUP BY pc""".stripMargin

  /** L222 Ansari–Bradley scale test ([PK] Ansari & Bradley 1960): do
    * URGENT and LOW-priority orders differ in price DISPERSION (not
    * location)? Ranks are assigned from BOTH ends of the pooled sample
    * inward — a = min(rank, N+1−rank) — so small scores mean extreme
    * values; the rank-based member of the scale family next to the
    * moment-based Brown–Forsythe (L166). The z uses the
    * permutation-conditional moments GIVEN the observed (tie-adjusted)
    * scores — E = m·ā, Var = mn·Σ(a−ā)²/(N(N−1)) — which absorbs ties
    * without the separate even/odd-N textbook cases.
    *
    * Parity: the value census carries doubled midranks 2r = 2·cumBelow
    * + cnt + 1 (exact int64); doubled scores a2 = min(2r, 2(N+1)−2r);
    * AB, Σa2·cnt, Σa2²·cnt all exact int64/DECIMAL; z is one double
    * chain with IEEE-exact sqrt, 4dp. No p column (no closed-form
    * normal tail — the q172 z-only convention).
    *
    * Scale: one agg to the distinct-cents census, one window over it,
    * one 1-row reduce. Guards: zero score variance (all values tied)
    * → null z. */
  def q288AnsariBradley(s: SparkSession, dir: String): DataFrame = {
    val cell = urgentCentsCensus(s, dir)
    // distributed rank backbone (q210 shape) + the r13 max-of-cumulative
    // 1-row totals broadcast (q147 form) for the from-both-ends fold
    // r20 (verdict mandate #2): the 1-row total fused into the prefix
    // pass (Σcnt ≡ the max-of-cumulative it replaced; zero extra jobs)
    val cum = PrefixSum.withPrefixSumsAndTotals(cell,
      Seq(col("pc")), Seq((col("cnt"), "cumn")), Nil,
      Seq((col("cnt"), "nn")))
    val ranked = cum
      .withColumn("r2", lit(2L) * col("cumn") - col("cnt") + 1L)
      .withColumn("a2",
        least(col("r2"), lit(2L) * (col("nn") + 1L) - col("r2")))
    val a = ranked.agg(max(col("nn")).as("n"),
      sum(col("c1")).as("m"),
      sum(col("c1").cast(dec) * col("a2").cast(dec)).as("ab2"),
      sum(col("cnt").cast(dec) * col("a2").cast(dec)).as("s1"),
      sum(col("cnt").cast(dec) * col("a2").cast(dec) * col("a2").cast(dec))
        .as("s2"))
    val nD = col("n").cast("double")
    val mD = col("m").cast("double")
    val ss4 = col("s2").cast("double") -
      col("s1").cast("double") * (col("s1").cast("double") / nD)
    val varAb4 = mD * (nD - mD) * ss4 / (nD * (nD - 1.0))
    val z = (col("ab2").cast("double") - mD *
      (col("s1").cast("double") / nD)) / sqrt(varAb4)
    val bad = col("m") === 0L || col("m") === col("n") || ss4 <= 0.0
    a.select(col("m").cast("long").as("n_urgent"),
      (col("n") - col("m")).cast("long").as("n_low"),
      (col("ab2").cast("double") / 2.0).as("ab_stat"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(z, 4) + 0.0).as("z"))
  }


  val q288AnsariBradleySql: String =
    s"""WITH cell AS ($urgentCentsCensusSql),
      |r AS (
      |  SELECT pc, cnt, c1,
      |    SUM(cnt) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
      |      AS below,
      |    SUM(cnt) OVER () AS nn
      |  FROM cell),
      |sc AS (
      |  SELECT cnt, c1, nn,
      |    LEAST(2 * below + cnt + 1,
      |      2 * (nn + 1) - (2 * below + cnt + 1)) AS a2
      |  FROM r),
      |a AS (
      |  SELECT CAST(MAX(nn) AS BIGINT) AS n, CAST(SUM(c1) AS BIGINT) AS m,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * a2) AS HUGEINT) AS ab2,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * a2) AS HUGEINT) AS s1,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * a2 * a2) AS HUGEINT) AS s2
      |  FROM sc),
      |c AS (
      |  SELECT n, m, ab2, s1,
      |    CAST(s2 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * (CAST(s1 AS DOUBLE) / n) AS ss4
      |  FROM a)
      |SELECT m AS n_urgent, n - m AS n_low,
      |  CAST(ab2 AS DOUBLE) / 2.0 AS ab_stat,
      |  CASE WHEN m = 0 OR m = n OR ss4 <= 0 THEN NULL
      |    ELSE ROUND((CAST(ab2 AS DOUBLE)
      |        - CAST(m AS DOUBLE) * (CAST(s1 AS DOUBLE) / n))
      |      / SQRT(CAST(m AS DOUBLE) * (n - m) * ss4
      |        / (CAST(n AS DOUBLE) * (n - 1.0))), 4) + 0 END AS z
      |FROM c""".stripMargin


  /** L225 Cucconi joint location-scale test ([PK] Cucconi 1968;
    * Marozzi 2009): do URGENT and LOW orders differ in price location
    * OR dispersion — one test, not a Bonferroni pair of
    * Mann–Whitney (L147) + Ansari–Bradley (L222)? U standardizes the
    * group-1 sum of SQUARED ranks, V the sum of squared CONTRARY
    * ranks (N+1−R); the quadratic form C = (U²+V²−2ρUV)/(2(1−ρ²))
    * has the remarkably simple asymptotic null tail P(C>c) = e^{−c}
    * — an exact closed form, no chi-square table.
    *
    * Parity: doubled midranks on the PrefixSum backbone (the q288
    * census); Σc₁·r2² and Σc₁·s2² exact DECIMAL; U, V, ρ, C one
    * deterministic double chain from exact ints (IEEE sqrt), 4dp;
    * p floor-quantized 1e-8.
    *
    * Scale: identical to q288 — census agg + 1-row N broadcast.
    * Guards: an empty group or N < 5 → null statistics. */
  def q289Cucconi(s: SparkSession, dir: String): DataFrame = {
    val cell = urgentCentsCensus(s, dir)
    // r20 (verdict mandate #2): the 1-row total fused into the prefix
    // pass (Σcnt ≡ the max-of-cumulative it replaced; zero extra jobs)
    val cum = PrefixSum.withPrefixSumsAndTotals(cell,
      Seq(col("pc")), Seq((col("cnt"), "cumn")), Nil,
      Seq((col("cnt"), "nn")))
    val ranked = cum
      .withColumn("r2", lit(2L) * col("cumn") - col("cnt") + 1L)
      .withColumn("s2", lit(2L) * (col("nn") + 1L) - col("r2"))
    val a = ranked.agg(max(col("nn")).as("n"), sum(col("c1")).as("m"),
      sum(col("c1").cast(dec) * col("r2").cast(dec) * col("r2").cast(dec))
        .as("sr2sq"),
      sum(col("c1").cast(dec) * col("s2").cast(dec) * col("s2").cast(dec))
        .as("ss2sq"))
    val nD = col("n").cast("double")
    val mD = col("m").cast("double")
    val n2D = nD - mD
    val mean = mD * (nD + 1.0) * (nD * 2.0 + 1.0)
    val sd = sqrt(mD * n2D * (nD + 1.0) * (nD * 2.0 + 1.0) *
      (nD * 8.0 + 11.0) / 5.0)
    // ΣR² = Σr2²/4 exactly; 6ΣR² = 1.5·Σr2²
    val u = (lit(1.5) * col("sr2sq").cast("double") - mean) / sd
    val v = (lit(1.5) * col("ss2sq").cast("double") - mean) / sd
    val rho = lit(2.0) * (nD * nD - 4.0) /
      ((nD * 2.0 + 1.0) * (nD * 8.0 + 11.0)) - 1.0
    val cStat = (u * u + v * v - lit(2.0) * rho * u * v) /
      (lit(2.0) * (lit(1.0) - rho * rho))
    val bad = col("m") === 0L || col("m") === col("n") || col("n") < 5L
    a.select(col("m").cast("long").as("n_urgent"),
      (col("n") - col("m")).cast("long").as("n_low"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(u, 4) + 0.0).as("u"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(v, 4) + 0.0).as("v"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(cStat, 4) + 0.0).as("c"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(exp(-cStat), 8)).as("p"))
  }


  val q289CucconiSql: String =
    s"""WITH cell AS ($urgentCentsCensusSql),
      |r AS (
      |  SELECT pc, cnt, c1,
      |    SUM(cnt) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn,
      |    SUM(cnt) OVER () AS nn
      |  FROM cell),
      |sc AS (
      |  SELECT cnt, c1, nn,
      |    2 * cumn - cnt + 1 AS r2,
      |    2 * (nn + 1) - (2 * cumn - cnt + 1) AS s2
      |  FROM r),
      |a AS (
      |  SELECT CAST(MAX(nn) AS BIGINT) AS n, CAST(SUM(c1) AS BIGINT) AS m,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * r2 * r2) AS HUGEINT) AS sr2sq,
      |    CAST(SUM(CAST(c1 AS HUGEINT) * s2 * s2) AS HUGEINT) AS ss2sq
      |  FROM sc),
      |c0 AS (
      |  SELECT n, m,
      |    (1.5 * CAST(sr2sq AS DOUBLE)
      |      - CAST(m AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0))
      |    / SQRT(CAST(m AS DOUBLE) * (n - CAST(m AS DOUBLE)) * (n + 1.0)
      |      * (2.0 * n + 1.0) * (8.0 * n + 11.0) / 5.0) AS u,
      |    (1.5 * CAST(ss2sq AS DOUBLE)
      |      - CAST(m AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0))
      |    / SQRT(CAST(m AS DOUBLE) * (n - CAST(m AS DOUBLE)) * (n + 1.0)
      |      * (2.0 * n + 1.0) * (8.0 * n + 11.0) / 5.0) AS v,
      |    2.0 * (CAST(n AS DOUBLE) * n - 4.0)
      |      / ((2.0 * n + 1.0) * (8.0 * n + 11.0)) - 1.0 AS rho
      |  FROM a),
      |c1x AS (
      |  SELECT n, m, u, v,
      |    (u * u + v * v - 2.0 * rho * u * v)
      |      / (2.0 * (1.0 - rho * rho)) AS c
      |  FROM c0)
      |SELECT m AS n_urgent, n - m AS n_low,
      |  CASE WHEN m = 0 OR m = n OR n < 5 THEN NULL
      |    ELSE ROUND(u, 4) + 0 END AS u,
      |  CASE WHEN m = 0 OR m = n OR n < 5 THEN NULL
      |    ELSE ROUND(v, 4) + 0 END AS v,
      |  CASE WHEN m = 0 OR m = n OR n < 5 THEN NULL
      |    ELSE ROUND(c, 4) + 0 END AS c,
      |  CASE WHEN m = 0 OR m = n OR n < 5 THEN NULL
      |    ELSE ${Parity.fixSql("EXP(-c)", 8)} END AS p
      |FROM c1x""".stripMargin


  /** L226 D'Agostino–Pearson K² omnibus normality test ([PK]
    * D'Agostino 1970; Anscombe & Glynn 1983; D'Agostino, Belanger &
    * D'Agostino 1990): the small-sample-calibrated omnibus — where
    * Jarque–Bera (L190) plugs raw g₁/g₂ into an asymptotic χ², K²
    * first maps each through its exact-moment normalizing transform
    * (Johnson S_U for skewness, Anscombe–Glynn cube-root for
    * kurtosis), so Z_skew/Z_kurt are ~N(0,1) even at modest n.
    * K² = Z₁² + Z₂² ~ χ²₂, whose tail is the exact closed form
    * e^{−K²/2}.
    *
    * Moments ride q256's census construction (floored-cent centering —
    * the documented exact-sum convention). Parity: the double chain is
    * deterministic from exact ints; the two non-IEEE libm calls (ln,
    * cbrt) are floor-quantized (1e-9 / 1e-12); sqrt/divisions are
    * IEEE-exact; p floor-quantized 1e-8.
    *
    * Scale: one cents-census agg + 1-row moment broadcast (the q256
    * shape). Guards: n < 20 (transforms uncalibrated), zero variance,
    * W ≤ 1, or A ≤ 4 → null. */
  def q291DagostinoK2(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val cen = o.groupBy("c").agg(count(lit(1)).as("cnt"))
    val s1 = cen.agg(sum(col("cnt")).as("n"),
      sum(col("c").cast(dec) * col("cnt").cast(dec)).as("sv"))
      .select(col("n"),
        floor(col("sv").cast("double") / col("n").cast("double"))
          .cast("long").as("m"))
    val d = col("c") - col("m")
    val pw = cen.crossJoin(broadcast(s1))
      .select(col("n"),
        (d.cast(dec) * d.cast(dec) * col("cnt").cast(dec)).as("d2"),
        (d.cast(dec) * d.cast(dec) * d.cast(dec) * col("cnt").cast(dec))
          .as("d3"),
        (d.cast(dec) * d.cast(dec) * d.cast(dec) * d.cast(dec) *
          col("cnt").cast(dec)).as("d4"))
      .groupBy("n")
      .agg(sum(col("d2")).as("s2"), sum(col("d3")).as("s3"),
        sum(col("d4")).as("s4"))
    def qln(x: Column) = Parity.fix(log(x), 9)
    val nD = col("n").cast("double")
    val m2 = col("s2").cast("double") / nD
    val g1 = (col("s3").cast("double") / nD) / (m2 * sqrt(m2))
    val b2 = (col("s4").cast("double") / nD) / (m2 * m2)
    // Z1: Johnson S_U transform of g1 (D'Agostino 1970)
    val y = g1 * sqrt((nD + 1.0) * (nD + 3.0) / (lit(6.0) * (nD - 2.0)))
    val beta2 = lit(3.0) * (nD * nD + nD * 27.0 - 70.0) * (nD + 1.0) *
      (nD + 3.0) / ((nD - 2.0) * (nD + 5.0) * (nD + 7.0) * (nD + 9.0))
    val w2 = sqrt(lit(2.0) * (beta2 - 1.0)) - 1.0
    val delta = lit(1.0) / sqrt(qln(sqrt(w2)))
    val alpha = sqrt(lit(2.0) / (w2 - 1.0))
    val z1 = delta * qln(y / alpha + sqrt((y / alpha) * (y / alpha) + 1.0))
    // Z2: Anscombe–Glynn cube-root transform of b2
    val eb2 = lit(3.0) * (nD - 1.0) / (nD + 1.0)
    val vb2 = lit(24.0) * nD * (nD - 2.0) * (nD - 3.0) /
      ((nD + 1.0) * (nD + 1.0) * (nD + 3.0) * (nD + 5.0))
    val xx = (b2 - eb2) / sqrt(vb2)
    val sb = (lit(6.0) * (nD * nD - nD * 5.0 + 2.0) /
      ((nD + 7.0) * (nD + 9.0))) *
      sqrt(lit(6.0) * (nD + 3.0) * (nD + 5.0) /
        (nD * (nD - 2.0) * (nD - 3.0)))
    val aA = lit(6.0) + lit(8.0) / sb *
      (lit(2.0) / sb + sqrt(lit(1.0) + lit(4.0) / (sb * sb)))
    val qc = Parity.fix(cbrt((lit(1.0) - lit(2.0) / aA) /
      (lit(1.0) + xx * sqrt(lit(2.0) / (aA - 4.0)))), 12)
    val z2 = (lit(1.0) - lit(2.0) / (lit(9.0) * aA) - qc) *
      sqrt(lit(9.0) * aA / 2.0)
    val k2 = z1 * z1 + z2 * z2
    val bad = col("n") < 20L || col("s2") <= 0L || w2 <= 1.0 || aA <= 4.0
    pw.select(col("n").as("n_orders"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(z1, 4) + 0.0).as("z_skew"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(z2, 4) + 0.0).as("z_kurt"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(k2, 4) + 0.0).as("k2"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(exp(-k2 / 2.0), 8)).as("p"))
  }


  val q291DagostinoK2Sql: String =
    s"""WITH o AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM orders),
      |cen AS (SELECT c, COUNT(*) AS cnt FROM o GROUP BY c),
      |s1 AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(FLOOR(CAST(SUM(CAST(c AS HUGEINT) * cnt) AS DOUBLE)
      |      / SUM(cnt)) AS BIGINT) AS m
      |  FROM cen),
      |pw AS (
      |  SELECT n,
      |    SUM(CAST(c - m AS HUGEINT) * (c - m) * cnt) AS s2,
      |    SUM(CAST(c - m AS HUGEINT) * (c - m) * (c - m) * cnt) AS s3,
      |    SUM(CAST(c - m AS HUGEINT) * (c - m) * (c - m) * (c - m) * cnt)
      |      AS s4
      |  FROM cen, s1 GROUP BY n),
      |mm AS (
      |  SELECT n, s2,
      |    (CAST(s3 AS DOUBLE) / n)
      |      / ((CAST(s2 AS DOUBLE) / n) * SQRT(CAST(s2 AS DOUBLE) / n))
      |      AS g1,
      |    (CAST(s4 AS DOUBLE) / n)
      |      / ((CAST(s2 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)) AS b2
      |  FROM pw),
      |t1 AS (
      |  SELECT n, s2, g1, b2,
      |    g1 * SQRT((n + 1.0) * (n + 3.0) / (6.0 * (n - 2.0))) AS y,
      |    SQRT(2.0 * (3.0 * (CAST(n AS DOUBLE) * n + 27.0 * n - 70.0)
      |      * (n + 1.0) * (n + 3.0)
      |      / ((n - 2.0) * (n + 5.0) * (n + 7.0) * (n + 9.0)) - 1.0))
      |      - 1.0 AS w2
      |  FROM mm),
      |t2 AS (
      |  SELECT n, s2, b2, w2,
      |    (1.0 / SQRT(${Parity.fixSql("LN(SQRT(w2))", 9)}))
      |    * (${Parity.fixSql("LN(y / SQRT(2.0 / (w2 - 1.0))" +
                              " + SQRT((y / SQRT(2.0 / (w2 - 1.0)))" +
                              " * (y / SQRT(2.0 / (w2 - 1.0))) + 1.0))", 9)}
      |      ) AS z1
      |  FROM t1),
      |t3 AS (
      |  SELECT n, s2, w2, z1,
      |    (b2 - 3.0 * (n - 1.0) / (n + 1.0))
      |      / SQRT(24.0 * CAST(n AS DOUBLE) * (n - 2.0) * (n - 3.0)
      |        / ((n + 1.0) * (n + 1.0) * (n + 3.0) * (n + 5.0))) AS xx,
      |    (6.0 * (CAST(n AS DOUBLE) * n - 5.0 * n + 2.0)
      |      / ((n + 7.0) * (n + 9.0)))
      |    * SQRT(6.0 * (n + 3.0) * (n + 5.0)
      |        / (CAST(n AS DOUBLE) * (n - 2.0) * (n - 3.0))) AS sb
      |  FROM t2),
      |t4 AS (
      |  SELECT n, s2, w2, z1, xx,
      |    6.0 + 8.0 / sb * (2.0 / sb + SQRT(1.0 + 4.0 / (sb * sb))) AS a
      |  FROM t3),
      |t5 AS (
      |  SELECT n, s2, w2, z1, a,
      |    (1.0 - 2.0 / (9.0 * a)
      |      - ${Parity.fixSql("CBRT((1.0 - 2.0 / a)" +
                               " / (1.0 + xx * SQRT(2.0 / (a - 4.0))))", 12)}
      |          )
      |    * SQRT(9.0 * a / 2.0) AS z2
      |  FROM t4)
      |SELECT n AS n_orders,
      |  CASE WHEN n < 20 OR s2 <= 0 OR w2 <= 1 OR a <= 4 THEN NULL
      |    ELSE ROUND(z1, 4) + 0 END AS z_skew,
      |  CASE WHEN n < 20 OR s2 <= 0 OR w2 <= 1 OR a <= 4 THEN NULL
      |    ELSE ROUND(z2, 4) + 0 END AS z_kurt,
      |  CASE WHEN n < 20 OR s2 <= 0 OR w2 <= 1 OR a <= 4 THEN NULL
      |    ELSE ROUND(z1 * z1 + z2 * z2, 4) + 0 END AS k2,
      |  CASE WHEN n < 20 OR s2 <= 0 OR w2 <= 1 OR a <= 4 THEN NULL
      |    ELSE ${Parity.fixSql("EXP(-(z1 * z1 + z2 * z2) / 2.0)", 8)}
      |    END AS p
      |FROM t5""".stripMargin


  /** L227 partial correlation r_xy·z over the per-ORDER census ([PK]
    * Fisher 1924; any regression text): order revenue and order units
    * correlate strongly (r ≈ 0.74 on the fixtures) — but does price
    * still track quantity once the number of LINES per order is
    * controlled for? The first-order partial
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) answers: it collapses
    * to ≈ −0.01 (measured at both SFs) — the raw association is
    * ENTIRELY the shared line-count driver. The feature-selection
    * primitive that separates direct association from a confounder,
    * next to the zero-order Pearson the engine already ships (q14/A9).
    *
    * Parity: x = order cents, y = order units, z = line count — ten
    * moment sums exact int64/DECIMAL in one agg over the per-order
    * census; every r is a deterministic double chain (variance
    * cross-products multiplied as doubles — their DECIMAL product
    * would overflow 38 digits at scale); IEEE sqrt; 6dp.
    *
    * Scale: one per-order agg (map-side combinable) + one 1-row
    * reduce — no joins, no windows. Guards: any zero variance or
    * |r_xz|,|r_yz| = 1 → null partial. */
  def q293PartialCorr(s: SparkSession, dir: String): DataFrame = {
    val li = RegressionQueries.perOrder(s, dir)
      .select(col("y").as("x"), col("x1").as("y"), col("x2").as("z"))
    val a = li.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(col("z").cast(dec)).as("sz"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
      sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"),
      sum(col("z").cast(dec) * col("z").cast(dec)).as("szz"),
      sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
      sum(col("x").cast(dec) * col("z").cast(dec)).as("sxz"),
      sum(col("y").cast(dec) * col("z").cast(dec)).as("syz"))
    val nD = col("n").cast("double")
    def vr(saa: String, sa: String) = nD * col(saa).cast("double") -
      col(sa).cast("double") * col(sa).cast("double")
    def cv(sab: String, sa: String, sb: String) =
      nD * col(sab).cast("double") -
        col(sa).cast("double") * col(sb).cast("double")
    val rxy = cv("sxy", "sx", "sy") /
      sqrt(vr("sxx", "sx") * vr("syy", "sy"))
    val rxz = cv("sxz", "sx", "sz") /
      sqrt(vr("sxx", "sx") * vr("szz", "sz"))
    val ryz = cv("syz", "sy", "sz") /
      sqrt(vr("syy", "sy") * vr("szz", "sz"))
    val part = (rxy - rxz * ryz) /
      sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    val badAny = col("n") < 3L || vr("sxx", "sx") <= 0.0 ||
      vr("syy", "sy") <= 0.0 || vr("szz", "sz") <= 0.0
    val badPart = badAny || rxz * rxz >= 1.0 || ryz * ryz >= 1.0
    a.select(col("n").as("n_orders"),
      when(badAny, lit(null).cast("double"))
        .otherwise(round(rxy, 6) + 0.0).as("r_xy"),
      when(badAny, lit(null).cast("double"))
        .otherwise(round(rxz, 6) + 0.0).as("r_xz"),
      when(badAny, lit(null).cast("double"))
        .otherwise(round(ryz, 6) + 0.0).as("r_yz"),
      when(badPart, lit(null).cast("double"))
        .otherwise(round(part, 6) + 0.0).as("r_xy_z"))
  }


  val q293PartialCorrSql: String =
    s"""WITH per AS (${RegressionQueries.perOrderSql}),
      |li AS (SELECT y AS x, x1 AS y, x2 AS z FROM per),
      |a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(z) AS HUGEINT) AS sz,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
      |    CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz,
      |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
      |    CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
      |    CAST(SUM(CAST(y AS HUGEINT) * z) AS HUGEINT) AS syz
      |  FROM li),
      |r AS (
      |  SELECT n,
      |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS vx,
      |    (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS vy,
      |    (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
      |      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)) AS vz,
      |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) AS cxy,
      |    (CAST(n AS DOUBLE) * CAST(sxz AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE)) AS cxz,
      |    (CAST(n AS DOUBLE) * CAST(syz AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sz AS DOUBLE)) AS cyz
      |  FROM a),
      |rr AS (
      |  SELECT n, vx, vy, vz,
      |    cxy / SQRT(vx * vy) AS rxy,
      |    cxz / SQRT(vx * vz) AS rxz,
      |    cyz / SQRT(vy * vz) AS ryz
      |  FROM r)
      |SELECT n AS n_orders,
      |  CASE WHEN n < 3 OR vx <= 0 OR vy <= 0 OR vz <= 0 THEN NULL
      |    ELSE ROUND(rxy, 6) + 0 END AS r_xy,
      |  CASE WHEN n < 3 OR vx <= 0 OR vy <= 0 OR vz <= 0 THEN NULL
      |    ELSE ROUND(rxz, 6) + 0 END AS r_xz,
      |  CASE WHEN n < 3 OR vx <= 0 OR vy <= 0 OR vz <= 0 THEN NULL
      |    ELSE ROUND(ryz, 6) + 0 END AS r_yz,
      |  CASE WHEN n < 3 OR vx <= 0 OR vy <= 0 OR vz <= 0
      |      OR rxz * rxz >= 1 OR ryz * ryz >= 1 THEN NULL
      |    ELSE ROUND((rxy - rxz * ryz)
      |      / SQRT((1.0 - rxz * rxz) * (1.0 - ryz * ryz)), 6) + 0 END
      |    AS r_xy_z
      |FROM rr""".stripMargin


  /** L232 distributed OLS via the Gram matrix ([PK] normal equations;
    * the classic scalable form — e.g. Spark MLlib's normal-equation
    * solver): regress order revenue (cents) on order units and line
    * count jointly. q293 showed the PAIRWISE story (raw r_xy ≈ 0.74
    * collapses to ≈ −0.01 given z); the regression gives the JOINT
    * readout — the line-count coefficient carries essentially all the
    * fit (R² ≈ 0.55 at sf0.01) while the units coefficient sits near
    * zero, the multivariable restatement of the same confounder.
    *
    * Construction: the 100 TB-safe shape — ONE map-side-combinable agg
    * of the 10 Gram moments (n, Σx₁, Σx₂, Σy, Σx₁², Σx₂², Σx₁x₂, Σx₁y,
    * Σx₂y, Σy²) as exact DECIMAL(38,0)/HUGEINT, then the 3×3 normal
    * system solved in closed form by Cramer's rule as one deterministic
    * double chain (same expression tree both engines → identical bits;
    * X'X never materializes per-row state and no iteration happens).
    * SSE = Σy² − β'X'y, R² = 1 − SSE/SST, adj-R² over n−3 df.
    *
    * Guards: n < 4, zero exact variance in either regressor, or
    * det(X'X) = 0 (collinear) → null coefficients. */
  def q298OlsGram(s: SparkSession, dir: String): DataFrame = {
    import RegressionQueries.{gram, perOrder}
    val a = gram(perOrder(s, dir))
    def f(c: String) = col(c).cast("double")
    val (n, s1, s2, sy) = (f("n"), f("s1"), f("s2"), f("sy"))
    val (s11, s22, s12) = (f("s11"), f("s22"), f("s12"))
    val (s1y, s2y, syy) = (f("s1y"), f("s2y"), f("syy"))
    val m11 = s11 * s22 - s12 * s12
    val m12 = s1 * s22 - s12 * s2
    val m13 = s1 * s12 - s11 * s2
    val det = n * m11 - s1 * m12 + s2 * m13
    val det0 = sy * m11 - s1 * (s1y * s22 - s12 * s2y) +
      s2 * (s1y * s12 - s11 * s2y)
    val det1 = n * (s1y * s22 - s12 * s2y) - sy * m12 +
      s2 * (s1 * s2y - s1y * s2)
    val det2 = n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * m13
    val (b0, b1, b2) = (det0 / det, det1 / det, det2 / det)
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / n
    val r2 = lit(1.0) - sse / sst
    // exact singularity guards (DECIMAL cross-products, no FP noise)
    val nD = col("n").cast(dec)
    val v1 = nD * col("s11") - col("s1") * col("s1")
    val v2 = nD * col("s22") - col("s2") * col("s2")
    val zero = lit(0L).cast(dec)
    val bad = col("n") < 4L || v1 <= zero || v2 <= zero || det === 0.0 ||
      sst <= 0.0
    def out(c: Column, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(round(c, 6) + 0.0).as(nm)
    a.select(col("n").cast("long").as("n_orders"),
      out(b0, "intercept_cents"), out(b1, "beta_units"),
      out(b2, "beta_lines"), out(r2, "r2"),
      out(lit(1.0) - (lit(1.0) - r2) * (n - 1.0) / (n - 3.0), "adj_r2"))
  }


  val q298OlsGramSql: String =
    s"""WITH per AS (${RegressionQueries.perOrderSql}),
      |a AS (${RegressionQueries.gramSql}),
      |f AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) AS nf, CAST(s1 AS DOUBLE) AS s1,
      |    CAST(s2 AS DOUBLE) AS s2, CAST(sy AS DOUBLE) AS sy,
      |    CAST(s11 AS DOUBLE) AS s11, CAST(s22 AS DOUBLE) AS s22,
      |    CAST(s12 AS DOUBLE) AS s12, CAST(s1y AS DOUBLE) AS s1y,
      |    CAST(s2y AS DOUBLE) AS s2y, CAST(syy AS DOUBLE) AS syy,
      |    (CAST(n AS HUGEINT) * s11 - s1 * s1) AS v1,
      |    (CAST(n AS HUGEINT) * s22 - s2 * s2) AS v2
      |  FROM a),
      |m AS (
      |  SELECT *,
      |    (s11 * s22 - s12 * s12) AS m11,
      |    (s1 * s22 - s12 * s2) AS m12,
      |    (s1 * s12 - s11 * s2) AS m13
      |  FROM f),
      |dets AS (
      |  SELECT *,
      |    (nf * m11 - s1 * m12 + s2 * m13) AS det,
      |    (sy * m11 - s1 * (s1y * s22 - s12 * s2y)
      |      + s2 * (s1y * s12 - s11 * s2y)) AS det0,
      |    (nf * (s1y * s22 - s12 * s2y) - sy * m12
      |      + s2 * (s1 * s2y - s1y * s2)) AS det1,
      |    (nf * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
      |      + sy * m13) AS det2,
      |    (syy - sy * sy / nf) AS sst
      |  FROM m),
      |b AS (
      |  SELECT *,
      |    det0 / det AS b0, det1 / det AS b1, det2 / det AS b2,
      |    (n < 4 OR v1 <= 0 OR v2 <= 0 OR det = 0 OR
      |      syy - sy * sy / nf <= 0) AS bad
      |  FROM dets),
      |r AS (
      |  SELECT *,
      |    1.0 - (syy - b0 * sy - b1 * s1y - b2 * s2y) / sst AS r2
      |  FROM b)
      |SELECT n AS n_orders,
      |  CASE WHEN bad THEN NULL ELSE ROUND(b0, 6) + 0 END
      |    AS intercept_cents,
      |  CASE WHEN bad THEN NULL ELSE ROUND(b1, 6) + 0 END AS beta_units,
      |  CASE WHEN bad THEN NULL ELSE ROUND(b2, 6) + 0 END AS beta_lines,
      |  CASE WHEN bad THEN NULL ELSE ROUND(r2, 6) + 0 END AS r2,
      |  CASE WHEN bad THEN NULL
      |    ELSE ROUND(1.0 - (1.0 - r2) * (nf - 1.0) / (nf - 3.0), 6) + 0
      |    END AS adj_r2
      |FROM r""".stripMargin


  /** L233 isotonic calibration via the minimax formula ([PK] Ayer et
    * al. 1955; Barlow & Brunk 1972; the monotone fit behind isotonic
    * probability calibration): fit the best monotone non-decreasing
    * rate curve over the token-count score bins for the outcome "doc
    * contains 'the'". The raw bin rates rise with local violations
    * (0.846→0.841 at sf0.01 bins 5→6; 0.927→0.902 at sf0.001 6→7);
    * the PAV solution pools exactly those neighbours. This is the
    * CALIBRATED counterpart of q197's raw reliability table — the
    * monotone re-map a score pipeline applies before thresholding.
    *
    * Construction: the corpus collapses to a ≤20-row (bin, n, Σy)
    * census map-side; the isotonic fit uses the closed-form
    * m_i = max_{j≤i} min_{k≥i} avg(y over bins j..k) — NOT the
    * sequential PAV sweep — so it is a bounded O(B³) computation over
    * census rows: one ≤20×20 non-equi self-join (BNLJ, allowlisted) +
    * a running-min window per start-bin + one max-group-by. The exact
    * PAV equivalence is pinned by StatBruteSpec's sequential pooler.
    *
    * Parity: every interval average is ONE double division of exact
    * int64 prefix sums; running min / group max over those doubles are
    * order-free; 6dp floor-quantized. */
  def q299IsotonicFit(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("bin")
    val census = Tables.documents(s, dir)
      .select(least(floor(size(tokens(col("text"))) / 10.0), lit(19L))
        .as("bin"),
        when(array_contains(tokens(col("text")), "the"), 1L)
          .otherwise(0L).as("y"))
      .groupBy("bin").agg(count(lit(1)).as("nb"), sum("y").as("sb"))
      .withColumn("pn", sum("nb").over(w))
      .withColumn("ps", sum("sb").over(w))
    val pairs = census.select(col("bin").as("jb"), col("nb").as("jn"),
        col("sb").as("js"), col("pn").as("jpn"), col("ps").as("jps"))
      .join(census.select(col("bin").as("kb"), col("pn").as("kpn"),
        col("ps").as("kps")), col("jb") <= col("kb"))
      .select(col("jb"), col("kb"),
        ((col("kps") - col("jps") + col("js")).cast("double") /
          (col("kpn") - col("jpn") + col("jn")).cast("double")).as("a"))
    val wj = Window.partitionBy("jb").orderBy(col("kb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val iso = pairs.withColumn("bmin", min("a").over(wj))
      .groupBy("kb").agg(max("bmin").as("iso"))
    census.join(iso, col("bin") === col("kb"))
      .select(col("bin"), col("nb").as("n_docs"),
        Parity.fix(col("sb").cast("double") / col("nb").cast("double"),
          6).as("raw_rate"),
        Parity.fix(col("iso"), 6).as("iso_rate"))
      .orderBy("bin")
  }


  val q299IsotonicFitSql: String =
    s"""WITH c0 AS (
      |  SELECT
      |    LEAST(CAST(FLOOR(len(string_split(text, ' ')) / 10.0)
      |      AS BIGINT), 19) AS bin,
      |    CASE WHEN list_contains(string_split(text, ' '), 'the')
      |      THEN 1 ELSE 0 END AS y
      |  FROM documents),
      |census AS (
      |  SELECT bin, COUNT(*) AS nb, CAST(SUM(y) AS BIGINT) AS sb
      |  FROM c0 GROUP BY bin),
      |pre AS (
      |  SELECT bin, nb, sb,
      |    CAST(SUM(nb) OVER (ORDER BY bin) AS BIGINT) AS pn,
      |    CAST(SUM(sb) OVER (ORDER BY bin) AS BIGINT) AS ps
      |  FROM census),
      |pairs AS (
      |  SELECT j.bin AS jb, k.bin AS kb,
      |    CAST(k.ps - j.ps + j.sb AS DOUBLE)
      |      / CAST(k.pn - j.pn + j.nb AS DOUBLE) AS a
      |  FROM pre j JOIN pre k ON j.bin <= k.bin),
      |bmin AS (
      |  SELECT jb, kb,
      |    MIN(a) OVER (PARTITION BY jb ORDER BY kb DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bmin
      |  FROM pairs),
      |iso AS (SELECT kb, MAX(bmin) AS iso FROM bmin GROUP BY kb)
      |SELECT bin, nb AS n_docs,
      |  ${Parity.fixSql("CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)", 6)}
      |    AS raw_rate,
      |  ${Parity.fixSql("iso", 6)} AS iso_rate
      |FROM pre JOIN iso ON pre.bin = iso.kb
      |ORDER BY bin""".stripMargin


  /** L240 Breusch–Pagan heteroscedasticity test ([PK] Breusch & Pagan
    * 1979; Koenker 1981 studentized form): does the VARIANCE of
    * q298's regression residuals move with the regressors? The
    * diagnostic that decides whether q298's classical standard errors
    * can be trusted — order revenue dispersion obviously grows with
    * line count, so the test fires decisively (pinned), which is
    * exactly why a real pipeline would switch to robust (HC) errors.
    * Koenker's studentized LM = n·R²_aux of the auxiliary regression
    * of squared residuals on (units, lines); LM ~ χ²₂ under
    * homoscedasticity, whose tail is EXACTLY e^{−LM/2} (even df — no
    * erf needed).
    *
    * Construction: the q298 Gram solve runs in-plan (1-row broadcast
    * of the 10 moments onto the per-order census — the q242 form,
    * allowlisted); residuals are floor-quantized to whole cents
    * (exact int64, the perturbation is ~10⁻⁹ of a typical residual)
    * so the auxiliary Gram moments are again exact DECIMAL/HUGEINT,
    * and the aux R² reuses the same Cramer chain. TWO census passes
    * total over one lazily-checkpointed frame — no iteration, no
    * driver action.
    *
    * Guards: q298's own singularity guards, aux SST ≤ 0, or n < 5 →
    * null. */
  def q306BreuschPagan(s: SparkSession, dir: String): DataFrame = {
    val per = RegressionQueries.perOrder(s, dir).localCheckpoint(eager = false)
    def d(c: String) = col(c).cast(dec)
    // syy is pruned: no column below reads it
    val gram = RegressionQueries.gram(per)
    def f(c: String) = col(c).cast("double")
    def cramer(sy: String, s1y: String, s2y: String)
        : (Column, Column, Column, Column) = {
      val (n, s1, s2) = (f("n"), f("s1"), f("s2"))
      val (s11, s22, s12) = (f("s11"), f("s22"), f("s12"))
      val m11 = s11 * s22 - s12 * s12
      val m12 = s1 * s22 - s12 * s2
      val m13 = s1 * s12 - s11 * s2
      val det = n * m11 - s1 * m12 + s2 * m13
      val det0 = f(sy) * m11 - s1 * (f(s1y) * s22 - s12 * f(s2y)) +
        s2 * (f(s1y) * s12 - s11 * f(s2y))
      val det1 = n * (f(s1y) * s22 - s12 * f(s2y)) - f(sy) * m12 +
        s2 * (s1 * f(s2y) - f(s1y) * s2)
      val det2 = n * (s11 * f(s2y) - f(s1y) * s12) -
        s1 * (s1 * f(s2y) - f(s1y) * s2) + f(sy) * m13
      (det0 / det, det1 / det, det2 / det, det)
    }
    val (b0, b1, b2, det) = cramer("sy", "s1y", "s2y")
    // residuals, cent-quantized → exact aux moments
    val resid = per.crossJoin(broadcast(gram.select(col("n"),
        col("s1"), col("s2"), col("sy"), col("s11"), col("s22"),
        col("s12"), col("s1y"), col("s2y"),
        b0.as("b0"), b1.as("b1"), b2.as("b2"), det.as("det"))))
      .select(col("x1"), col("x2"), col("n"), col("s1"), col("s2"),
        col("s11"), col("s22"), col("s12"), col("det"),
        floor(col("y").cast("double") - col("b0") -
          col("b1") * col("x1").cast("double") -
          col("b2") * col("x2").cast("double") + 0.5).cast("long")
          .as("e"))
    val aux = resid.groupBy("n", "s1", "s2", "s11", "s22", "s12", "det")
      .agg(sum(col("e").cast(dec) * col("e")).as("su"),
        sum(col("e").cast(dec) * col("e") * d("x1")).as("s1u"),
        sum(col("e").cast(dec) * col("e") * d("x2")).as("s2u"),
        sum(col("e").cast(dec) * col("e") * col("e").cast(dec) *
          col("e")).as("suu"))
    // aux R² via the same closed form, response u = e². Precision
    // budget: suu rides cents⁴ (≤ ~10³⁵ at sf0.1 — inside DECIMAL(38)/
    // HUGEINT); at ≥10⁹ orders switch the residuals to whole dollars
    // before squaring to keep the quartic sum inside 38 digits.
    def fa(c: String) = col(c).cast("double")
    val (n, s1, s2) = (fa("n"), fa("s1"), fa("s2"))
    val (s11, s22, s12) = (fa("s11"), fa("s22"), fa("s12"))
    val m11 = s11 * s22 - s12 * s12
    val m12 = s1 * s22 - s12 * s2
    val m13 = s1 * s12 - s11 * s2
    val detA = n * m11 - s1 * m12 + s2 * m13
    val a0 = (fa("su") * m11 - s1 * (fa("s1u") * s22 - s12 * fa("s2u")) +
      s2 * (fa("s1u") * s12 - s11 * fa("s2u"))) / detA
    val a1 = (n * (fa("s1u") * s22 - s12 * fa("s2u")) - fa("su") * m12 +
      s2 * (s1 * fa("s2u") - fa("s1u") * s2)) / detA
    val a2 = (n * (s11 * fa("s2u") - fa("s1u") * s12) -
      s1 * (s1 * fa("s2u") - fa("s1u") * s2) + fa("su") * m13) / detA
    val sseA = fa("suu") - a0 * fa("su") - a1 * fa("s1u") -
      a2 * fa("s2u")
    val sstA = fa("suu") - fa("su") * fa("su") / n
    val r2a = lit(1.0) - sseA / sstA
    val lm = n * r2a
    val bad = col("n") < 5L || col("det") === 0.0 || detA === 0.0 ||
      sstA <= 0.0
    aux.select(col("n").cast("long").as("n_orders"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(lm, 4) + 0.0).as("bp_lm"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(exp(-lm / 2.0), 6) + 0.0).as("p_value"),
      when(bad, lit(null).cast("long"))
        .otherwise(when(exp(-lm / 2.0) < 0.05, 1L).otherwise(0L))
        .as("heteroscedastic_5pct"))
  }


  val q306BreuschPaganSql: String =
    s"""WITH per AS (${RegressionQueries.perOrderSql}),
      |g AS (${RegressionQueries.gramSql}),
      |gf AS (
      |  SELECT n,
      |    CAST(n AS DOUBLE) AS nf, CAST(s1 AS DOUBLE) AS s1f,
      |    CAST(s2 AS DOUBLE) AS s2f, CAST(sy AS DOUBLE) AS syf,
      |    CAST(s11 AS DOUBLE) AS s11f, CAST(s22 AS DOUBLE) AS s22f,
      |    CAST(s12 AS DOUBLE) AS s12f, CAST(s1y AS DOUBLE) AS s1yf,
      |    CAST(s2y AS DOUBLE) AS s2yf
      |  FROM g),
      |bb AS (
      |  SELECT *,
      |    (nf * (s11f * s22f - s12f * s12f)
      |      - s1f * (s1f * s22f - s12f * s2f)
      |      + s2f * (s1f * s12f - s11f * s2f)) AS det
      |  FROM gf),
      |bcoef AS (
      |  SELECT *,
      |    (syf * (s11f * s22f - s12f * s12f)
      |      - s1f * (s1yf * s22f - s12f * s2yf)
      |      + s2f * (s1yf * s12f - s11f * s2yf)) / det AS b0,
      |    (nf * (s1yf * s22f - s12f * s2yf)
      |      - syf * (s1f * s22f - s12f * s2f)
      |      + s2f * (s1f * s2yf - s1yf * s2f)) / det AS b1,
      |    (nf * (s11f * s2yf - s1yf * s12f)
      |      - s1f * (s1f * s2yf - s1yf * s2f)
      |      + syf * (s1f * s12f - s11f * s2f)) / det AS b2
      |  FROM bb),
      |res AS (
      |  SELECT per.x1, per.x2, bcoef.n, bcoef.nf, bcoef.s1f, bcoef.s2f,
      |    bcoef.s11f, bcoef.s22f, bcoef.s12f, bcoef.det,
      |    CAST(FLOOR(CAST(per.y AS DOUBLE) - b0
      |      - b1 * CAST(per.x1 AS DOUBLE)
      |      - b2 * CAST(per.x2 AS DOUBLE) + 0.5) AS BIGINT) AS e
      |  FROM per CROSS JOIN bcoef),
      |aux AS (
      |  SELECT MAX(n) AS n, MAX(nf) AS nf, MAX(s1f) AS s1f,
      |    MAX(s2f) AS s2f, MAX(s11f) AS s11f, MAX(s22f) AS s22f,
      |    MAX(s12f) AS s12f, MAX(det) AS det,
      |    CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE) AS su,
      |    CAST(SUM(CAST(e AS HUGEINT) * e * x1) AS DOUBLE) AS s1u,
      |    CAST(SUM(CAST(e AS HUGEINT) * e * x2) AS DOUBLE) AS s2u,
      |    CAST(SUM(CAST(e AS HUGEINT) * e * e * e) AS DOUBLE) AS suu
      |  FROM res),
      |ac AS (
      |  SELECT *,
      |    (nf * (s11f * s22f - s12f * s12f)
      |      - s1f * (s1f * s22f - s12f * s2f)
      |      + s2f * (s1f * s12f - s11f * s2f)) AS detA
      |  FROM aux),
      |a2 AS (
      |  SELECT *,
      |    (su * (s11f * s22f - s12f * s12f)
      |      - s1f * (s1u * s22f - s12f * s2u)
      |      + s2f * (s1u * s12f - s11f * s2u)) / detA AS c0,
      |    (nf * (s1u * s22f - s12f * s2u) - su * (s1f * s22f - s12f * s2f)
      |      + s2f * (s1f * s2u - s1u * s2f)) / detA AS c1,
      |    (nf * (s11f * s2u - s1u * s12f)
      |      - s1f * (s1f * s2u - s1u * s2f)
      |      + su * (s1f * s12f - s11f * s2f)) / detA AS c2
      |  FROM ac),
      |fin AS (
      |  SELECT n, nf, det, detA,
      |    suu - su * su / nf AS sstA,
      |    nf * (1.0 - (suu - c0 * su - c1 * s1u - c2 * s2u)
      |      / (suu - su * su / nf)) AS lm
      |  FROM a2)
      |SELECT n AS n_orders,
      |  CASE WHEN n < 5 OR det = 0 OR detA = 0 OR sstA <= 0 THEN NULL
      |    ELSE ROUND(lm, 4) + 0 END AS bp_lm,
      |  CASE WHEN n < 5 OR det = 0 OR detA = 0 OR sstA <= 0 THEN NULL
      |    ELSE ROUND(EXP(-lm / 2.0), 6) + 0 END AS p_value,
      |  CASE WHEN n < 5 OR det = 0 OR detA = 0 OR sstA <= 0 THEN NULL
      |    WHEN EXP(-lm / 2.0) < 0.05 THEN 1 ELSE 0 END
      |    AS heteroscedastic_5pct
      |FROM fin""".stripMargin
}
