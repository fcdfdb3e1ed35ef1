package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity._

/** Survival / time-to-event operators, split out of EventQueries in
  * round 13 (the file crossed the ~2,000-line review threshold):
  * Kaplan–Meier L113 (q175), Nelson–Aalen L138 (q200), log-rank L158
  * (q224), exponential-fit KS L174 (q240) and Greenwood confidence
  * bands L176 (q242) — the churn/retention readout family over the
  * `events` table.
  *
  * Shared construction: each collapses events to a per-user first/last
  * census (one user_id shuffle), derives the risk-set walk from day
  * censuses via [[PrefixSum]] or census windows, and carries corpus
  * bounds as in-plan 1-row broadcasts (the q242 form) — no driver
  * actions, nothing scales with raw event rows past the first agg.
  */
object SurvivalQueries {

  /** L113 Kaplan–Meier survival of user lifetimes — the
    * retention-analytics estimator under RIGHT CENSORING: lifetime =
    * whole HOURS between a user's first and last event; a user whose
    * last event is within 12 hours of corpus end is CENSORED (still
    * active when observation stopped), not churned. (Hour resolution
    * and a 12 h horizon, not days: the events fixture spans 29 days
    * and every user's last-event gap is ≤ 2 days, so any day-scale
    * horizon classifies ZERO churners and the whole survival family
    * measures nothing — r10 found exactly that vacuity via the q224
    * brute-force reference.) Per lifetime hour t:
    * users at risk n_t, churn events d_t, censored c_t, and
    * S(t) = Π_{t'≤t} (1 − d_{t'}/n_{t'}) — the estimator that plain
    * "average lifetime" gets wrong by treating censored users as
    * churned.
    *
    * Parity: counts are exact int64; the survival product runs as a
    * cumulative Σ ln((n−d)/n) over the ≤|days|-row day table in one
    * ascending window — BOTH engines accumulate the identical doubles
    * in the identical row order, so the sum is bit-deterministic (the
    * q167 tiny-global-window shape); exp + 4dp round on output. Once a
    * day has d = n (everyone at risk churns) survival pins to exactly
    * 0 via a cumulative flag — no ln(0) is ever evaluated (ANSI-safe
    * on Spark, error-free on DuckDB).
    *
    * Scale: one user-keyed agg collapses events to |users| lifetimes;
    * the day census is a ≤|days|-group hash agg; only the day table
    * (dozens of rows at any corpus size — lifetimes are calendar-
    * bounded) rides the global window. Corpus end and the user total
    * ride an in-plan 1-row broadcast (the q242 form, backported r12 —
    * no build-time driver action). */
  def q175KaplanMeier(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"),
      countDistinct("user_id").as("nu"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        col("nu"))
    val day = peru.groupBy("t")
      .agg(sum(col("churn")).as("d"), sum(lit(1L) - col("churn")).as("c"),
        max(col("nu")).as("nu"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = day.withColumn("n_risk",
      col("nu") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val dead = max(when(col("d") >= col("n_risk"), 1L).otherwise(0L)).over(wCum)
    // r15 fuzz find (seed 122): each libm ln carries ~1-ulp cross-engine
    // drift, and the SUMMED drift once landed within an ulp of a 4dp
    // rounding boundary. Quantize every ln term to nano-units BEFORE
    // the cumulative sum, so both engines exp the IDENTICAL argument.
    val lnTerm9 = when(col("d") === 0 || col("d") >= col("n_risk"), lit(0L))
      .otherwise(Parity.quant(log((col("n_risk") - col("d")).cast("double") /
        col("n_risk").cast("double")), 1e9))
    withRisk
      .withColumn("dead", dead)
      .withColumn("ln_s", sum(lnTerm9).over(wCum).cast("double") / 1e9)
      .select(col("t").as("t_hours"), col("n_risk"), col("d").as("n_churn"),
        col("c").as("n_censored"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(col("ln_s")), 4)).as("survival"))
      .orderBy("t_hours")
  }

  val q175KaplanMeierSql: String =
    """WITH e AS (
      |  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(ts) AS fin, COUNT(DISTINCT user_id) AS nu FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT epoch_us(fin) - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t, CAST(SUM(churn) AS BIGINT) AS d,
      |    CAST(SUM(1 - churn) AS BIGINT) AS c
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, d, c,
      |    (SELECT nu FROM b) - CAST(COALESCE(SUM(d + c) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS n_risk
      |  FROM day),
      |cum AS (
      |  SELECT t, n_risk, d, c,
      |    MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS dead,
      |    CAST(SUM(CASE WHEN d = 0 OR d >= n_risk THEN CAST(0 AS BIGINT)
      |             ELSE CAST(FLOOR(LN(CAST(n_risk - d AS DOUBLE) / n_risk)
      |               * 1e9 + 0.5) AS BIGINT) END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) / 1e9
      |      AS ln_s
      |  FROM risk)
      |SELECT t AS t_hours, n_risk, d AS n_churn, c AS n_censored,
      |  CASE WHEN dead = 1 THEN 0.0 ELSE ROUND(EXP(ln_s), 4) END AS survival
      |FROM cum ORDER BY t_hours""".stripMargin

  /** L138 Nelson–Aalen cumulative hazard (Nelson 1972, Aalen 1978
    * [PK]) — the survival family's second estimator, over the same
    * churn construction as q175: H(t) = Σ_{tᵢ≤t} dᵢ/nᵢ, plus the
    * Fleming–Harrington survival exp(−H). Where KM's product-limit
    * survival multiplies conditional survivals (unstable when any nᵢ
    * is small), NA SUMS hazard increments — the estimator of choice
    * for hazard-RATE readouts and for small risk sets, and the pair's
    * disagreement is itself a small-sample diagnostic.
    *
    * Parity: the (t, d, n_risk) day table is exact int64 (q175's
    * construction); each day's d/n increment is nano-quantized and
    * prefix-summed as int64 (exact, order-independent), so H is the
    * same integer-over-1e9 on both engines; exp(−H) rounds 4dp (the
    * q195 libm note). The only unkeyed window runs over the ≤|days|
    * day table, not the events.
    *
    * Scale: one keyed per-user agg, a ≤|days|-row census + two tiny
    * windows — the q175 shape exactly. */
  def q200NelsonAalen(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    // in-plan 1-row bounds broadcast (q242 form, backported r12)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"),
      countDistinct("user_id").as("nu"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        col("nu"))
    val day = peru.groupBy("t")
      .agg(sum(col("churn")).as("d"), sum(lit(1L) - col("churn")).as("c"),
        max(col("nu")).as("nu"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = day.withColumn("n_risk",
      col("nu") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val incQ = when(col("d") === 0L || col("n_risk") <= 0L, lit(0L))
      .otherwise(Parity.quant(col("d").cast("double") /
        col("n_risk").cast("double"), 1e9))
    withRisk
      .withColumn("hq", sum(incQ).over(wCum))
      .select(col("t").as("t_hours"), col("n_risk"), col("d").as("n_churn"),
        col("c").as("n_censored"),
        (col("hq").cast("double") / lit(1.0e9)).as("cum_hazard"),
        round(exp(-(col("hq").cast("double") / lit(1.0e9))), 4)
          .as("survival_fh"))
      .orderBy("t_hours")
  }

  val q200NelsonAalenSql: String =
    """WITH e AS (
      |  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(ts) AS fin, COUNT(DISTINCT user_id) AS nu FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT epoch_us(fin) - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t, CAST(SUM(churn) AS BIGINT) AS d,
      |    CAST(SUM(1 - churn) AS BIGINT) AS c
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, d, c,
      |    (SELECT nu FROM b) - CAST(COALESCE(SUM(d + c) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS n_risk
      |  FROM day),
      |q AS (
      |  SELECT t, n_risk, d, c,
      |    CASE WHEN d = 0 OR n_risk <= 0 THEN 0
      |      ELSE CAST(FLOOR(CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE)
      |        * 1e9 + 0.5) AS BIGINT) END AS incq
      |  FROM risk),
      |cum AS (
      |  SELECT t, n_risk, d, c,
      |    CAST(SUM(incq) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS hq
      |  FROM q)
      |SELECT t AS t_hours, n_risk, d AS n_churn, c AS n_censored,
      |  CAST(hq AS DOUBLE) / 1e9 AS cum_hazard,
      |  ROUND(exp(-(CAST(hq AS DOUBLE) / 1e9)), 4) AS survival_fh
      |FROM cum ORDER BY t_hours""".stripMargin

  /** L158 log-rank test (Mantel 1966 [PK]): do the two user cohorts
    * (user_id parity — the q172 variant convention) have the SAME
    * churn-survival curve? At each event time the observed group-1
    * churn count is compared to its hypergeometric expectation given
    * the pooled risk set; z = (O₁−E₁)/√V summarizes. This is the
    * inferential companion to q175/q200's KM/NA CURVES — those
    * describe, this one tests.
    *
    * Parity: per-user lifetimes/churn flags and the per-day group
    * censuses are exact int64 (the q175 construction); E and V terms
    * are rationals, so each is quantized to int64 micro-units BEFORE
    * summing (floor(1e6·x + 0.5), the q196/q207 quantum — coarse
    * enough that a 1-ulp division divergence cannot flip a term) and
    * the partial-agg sum is exact-integer, partition-order free. Group
    * totals ride windows over the ≤|days| census — no 1-row broadcast,
    * no BNLJ.
    *
    * Scale: one per-user keyed agg over the fact scan; everything
    * after is the bounded day census. */
  def q224LogRank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    // in-plan 1-row bounds broadcast (q242 form, backported r12)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        pmod(col("user_id"), lit(2L)).as("g"))
    val day = peru.groupBy("t")
      .agg(sum(when(col("g") === 0, col("churn")).otherwise(0L)).as("d1"),
        sum(when(col("g") === 0, lit(1L) - col("churn")).otherwise(0L)).as("c1"),
        sum(when(col("g") === 1, col("churn")).otherwise(0L)).as("d2"),
        sum(when(col("g") === 1, lit(1L) - col("churn")).otherwise(0L)).as("c2"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = day
      .withColumn("nu1", sum(col("d1") + col("c1")).over(wAll))
      .withColumn("nu2", sum(col("d2") + col("c2")).over(wAll))
      .withColumn("n1r", col("nu1") -
        coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
      .withColumn("n2r", col("nu2") -
        coalesce(sum(col("d2") + col("c2")).over(wPrev), lit(0L)))
      .filter(col("d1") + col("d2") > 0)
    val n = (col("n1r") + col("n2r")).cast("double")
    val d = (col("d1") + col("d2")).cast("double")
    val p1 = col("n1r").cast("double") / n
    val eTerm = d * p1
    val vTerm = when(col("n1r") + col("n2r") > 1,
      d * p1 * (lit(1.0) - p1) * (n - d) / (n - 1.0)).otherwise(lit(0.0))
    val g = risk
      .withColumn("eq", Parity.quant(eTerm, 1e6))
      .withColumn("vq", Parity.quant(vTerm, 1e6))
      .agg(max(col("nu1")).as("n_users_g0"), max(col("nu2")).as("n_users_g1"),
        sum(col("d1")).as("o1"), sum(col("eq")).as("e1q"),
        sum(col("vq")).as("v1q"))
    g.select(col("n_users_g0"), col("n_users_g1"), col("o1"),
      Parity.fix(col("e1q").cast("double") / 1e6, 4).as("e1"),
      Parity.fix((col("o1").cast("double") - col("e1q").cast("double") / 1e6) /
        sqrt(col("v1q").cast("double") / 1e6), 4).as("z"))
  }

  val q224LogRankSql: String =
    """WITH e AS (
      |  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(epoch_us(ts)) AS end_us FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT end_us - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn,
      |    user_id % 2 AS g
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN g = 0 THEN churn ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 - churn ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN g = 1 THEN churn ELSE 0 END) AS BIGINT) AS d2,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 - churn ELSE 0 END) AS BIGINT) AS c2
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, d1, d2,
      |    CAST(SUM(d1 + c1) OVER () AS BIGINT) AS nu1,
      |    CAST(SUM(d2 + c2) OVER () AS BIGINT) AS nu2,
      |    CAST(SUM(d1 + c1) OVER () AS BIGINT)
      |      - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS n1r,
      |    CAST(SUM(d2 + c2) OVER () AS BIGINT)
      |      - CAST(COALESCE(SUM(d2 + c2) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS n2r
      |  FROM day),
      |terms AS (
      |  SELECT nu1, nu2, d1,
      |    CAST(FLOOR(CAST(d1 + d2 AS DOUBLE)
      |      * (CAST(n1r AS DOUBLE) / CAST(n1r + n2r AS DOUBLE))
      |      * 1e6 + 0.5) AS BIGINT) AS eq,
      |    CAST(FLOOR(CASE WHEN n1r + n2r > 1
      |      THEN CAST(d1 + d2 AS DOUBLE)
      |        * (CAST(n1r AS DOUBLE) / CAST(n1r + n2r AS DOUBLE))
      |        * (1.0 - CAST(n1r AS DOUBLE) / CAST(n1r + n2r AS DOUBLE))
      |        * (CAST(n1r + n2r AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
      |        / (CAST(n1r + n2r AS DOUBLE) - 1.0)
      |      ELSE 0.0 END * 1e6 + 0.5) AS BIGINT) AS vq
      |  FROM risk WHERE d1 + d2 > 0),
      |g AS (
      |  SELECT MAX(nu1) AS n_users_g0, MAX(nu2) AS n_users_g1,
      |    CAST(SUM(d1) AS BIGINT) AS o1,
      |    CAST(SUM(eq) AS BIGINT) AS e1q, CAST(SUM(vq) AS BIGINT) AS v1q
      |  FROM terms)
      |SELECT n_users_g0, n_users_g1, o1,
      |  FLOOR(CAST(e1q AS DOUBLE) / 1e6 * 1e4 + 0.5) / 1e4 AS e1,
      |  FLOOR((CAST(o1 AS DOUBLE) - CAST(e1q AS DOUBLE) / 1e6)
      |    / SQRT(CAST(v1q AS DOUBLE) / 1e6) * 1e4 + 0.5) / 1e4 AS z
      |FROM g""".stripMargin

  /** L174 exponential inter-arrival fit + KS goodness-of-fit: the MLE
    * rate λ̂ = n/Σg over whole-second user inter-event gaps (q193's gap
    * construction) and the exact KS distance between the empirical gap
    * CDF and Exp(λ̂) — "are arrivals Poisson?" is the first question a
    * capacity model asks, and the KS distance (vs the two-SAMPLE q147)
    * is the one-sample parametric-fit version.
    *
    * Parity: the gap census and its prefix counts are exact int64
    * ([[PrefixSum]] — no single-partition window); F(g) = 1−e^(−λ̂g)
    * is one identical double chain; per-step D candidates quantize to
    * nano-units before the integer MAX, so a 1-ulp exp() divergence
    * cannot flip the maximum (q195's accepted-residual class at the
    * 1e-9 grid).
    *
    * Scale: keyed lag window → map-side-combinable census → prefix
    * sums → one max agg. Census size = distinct gap values, bounded by
    * the time span, not the event count. */
  def q240ExpFitKs(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .filter(col("user_id").isNotNull)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(expr("gap_us div 1000000").as("g"))
    val cen = gaps.groupBy("g").agg(count(lit(1)).as("cnt"))
    // r20 (verdict mandate #2): the (n, Σg·cnt) totals used to re-run
    // the whole census build — including the per-user lag window over
    // events — a second time; fused into PrefixSum's own pass
    val cum = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
      Seq(col("g")), Seq((col("cnt"), "cum")), Nil,
      Seq((col("cnt"), "n"), (col("g") * col("cnt"), "sg")))
    val lam = col("n").cast("double") / col("sg")
    val fT = lit(1.0) - exp(-lam * col("g"))
    val fHi = col("cum").cast("double") / col("n")
    val fLo = (col("cum") - col("cnt")).cast("double") / col("n")
    cum.select(col("n"), col("sg"),
        Parity.quant(greatest(abs(fHi - fT), abs(fT - fLo)), 1e9).as("dq"))
      .groupBy("n", "sg")
      .agg(max(col("dq")).as("dmax"))
      .select(col("n").as("n_gaps"),
        (round(col("sg").cast("double") / col("n"), 4) + 0.0)
          .as("mean_gap_s"),
        Parity.fix(col("dmax").cast("double") / 1e9, 6)
        .as("ks_d"))
  }

  /** L176 Kaplan–Meier with Greenwood confidence bands (Greenwood 1926
    * [PK]): q175's survival curve plus its pointwise variance
    * Var(Ŝ) = Ŝ²·Σ d/(n(n−d)) and the clamped 95% linear CI — the
    * uncertainty q175 reports without. A survival estimate quoted
    * without its band is exactly the overconfidence a churn model
    * inherits silently.
    *
    * Parity: the q175 construction verbatim (hour lifetimes, 12-hour
    * censor horizon, in-plan 1-row bounds broadcast — no build-time
    * driver action); Greenwood terms d/(n(n−d)) quantize to nano-units
    * before the cumulative integer sum, so the variance prefix is
    * bit-identical; Ŝ and the band are one double chain, 4dp, CI
    * clamped to [0, 1] with GREATEST/LEAST on both engines.
    *
    * Scale: the q175 shape — per-user agg, lifetime census,
    * census-sized cumulative windows. */
  def q242KmGreenwood(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"),
      countDistinct("user_id").as("nu"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        col("nu"))
    val day = peru.groupBy("t")
      .agg(sum(col("churn")).as("d"), sum(lit(1L) - col("churn")).as("c"),
        max(col("nu")).as("nu"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = day.withColumn("n_risk",
      col("nu") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val dead = max(when(col("d") >= col("n_risk"), 1L).otherwise(0L)).over(wCum)
    // r15 fuzz find (seed 122): each libm ln carries ~1-ulp cross-engine
    // drift, and the SUMMED drift once landed within an ulp of a 4dp
    // rounding boundary. Quantize every ln term to nano-units BEFORE
    // the cumulative sum, so both engines exp the IDENTICAL argument.
    val lnTerm9 = when(col("d") === 0 || col("d") >= col("n_risk"), lit(0L))
      .otherwise(Parity.quant(log((col("n_risk") - col("d")).cast("double") /
        col("n_risk").cast("double")), 1e9))
    val gwTerm = when(col("d") === 0 || col("d") >= col("n_risk"), lit(0L))
      .otherwise(Parity.quant(col("d").cast("double") /
        (col("n_risk").cast("double") * (col("n_risk") - col("d"))), 1e9))
    val surv = exp(col("ln_s"))
    val se = surv * sqrt(col("gw").cast("double") / 1e9)
    withRisk
      .withColumn("dead", dead)
      .withColumn("ln_s", sum(lnTerm9).over(wCum).cast("double") / 1e9)
      .withColumn("gw", sum(gwTerm).over(wCum))
      .select(col("t").as("t_hours"), col("n_risk"), col("d").as("n_churn"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(surv, 4)).as("survival"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(se, 4) + 0.0).as("se_greenwood"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(greatest(surv - lit(1.96) * se, lit(0.0)), 4)
            + 0.0).as("ci_lo"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(least(surv + lit(1.96) * se, lit(1.0)), 4)
            + 0.0).as("ci_hi"))
      .orderBy("t_hours")
  }

  val q242KmGreenwoodSql: String =
    """WITH e AS (
      |  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(ts) AS fin, COUNT(DISTINCT user_id) AS nu FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT epoch_us(fin) - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t, CAST(SUM(churn) AS BIGINT) AS d,
      |    CAST(SUM(1 - churn) AS BIGINT) AS c
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, d, c,
      |    (SELECT nu FROM b) - CAST(COALESCE(SUM(d + c) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS n_risk
      |  FROM day),
      |cum AS (
      |  SELECT t, n_risk, d, c,
      |    MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS dead,
      |    CAST(SUM(CASE WHEN d = 0 OR d >= n_risk THEN CAST(0 AS BIGINT)
      |             ELSE CAST(FLOOR(LN(CAST(n_risk - d AS DOUBLE) / n_risk)
      |               * 1e9 + 0.5) AS BIGINT) END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) / 1e9
      |      AS ln_s,
      |    CAST(SUM(CASE WHEN d = 0 OR d >= n_risk THEN 0
      |      ELSE CAST(FLOOR(CAST(d AS DOUBLE)
      |        / (CAST(n_risk AS DOUBLE) * (n_risk - d)) * 1e9 + 0.5)
      |        AS BIGINT) END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS BIGINT) AS gw
      |  FROM risk)
      |SELECT t AS t_hours, n_risk, d AS n_churn,
      |  CASE WHEN dead = 1 THEN 0.0 ELSE ROUND(EXP(ln_s), 4) END
      |    AS survival,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE ROUND(EXP(ln_s) * SQRT(CAST(gw AS DOUBLE) / 1e9), 4) + 0 END
      |    AS se_greenwood,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE ROUND(GREATEST(EXP(ln_s) - 1.96 * EXP(ln_s)
      |      * SQRT(CAST(gw AS DOUBLE) / 1e9), 0.0), 4) + 0 END AS ci_lo,
      |  CASE WHEN dead = 1 THEN 0.0
      |    ELSE ROUND(LEAST(EXP(ln_s) + 1.96 * EXP(ln_s)
      |      * SQRT(CAST(gw AS DOUBLE) / 1e9), 1.0), 4) + 0 END AS ci_hi
      |FROM cum ORDER BY t_hours""".stripMargin

  val q240ExpFitKsSql: String =
    """WITH gg AS (
      |  SELECT (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
      |  FROM events WHERE user_id IS NOT NULL),
      |cen AS (
      |  SELECT g, COUNT(*) AS cnt FROM gg WHERE g IS NOT NULL GROUP BY g),
      |cum AS (
      |  SELECT g, cnt,
      |    SUM(cnt) OVER (ORDER BY g ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM cen),
      |tot AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(g * cnt) AS BIGINT) AS sg
      |  FROM cen),
      |d AS (
      |  SELECT n, sg,
      |    CAST(FLOOR(GREATEST(
      |      abs(CAST(cum AS DOUBLE) / n
      |        - (1.0 - exp(-(CAST(n AS DOUBLE) / sg) * g))),
      |      abs((1.0 - exp(-(CAST(n AS DOUBLE) / sg) * g))
      |        - CAST(cum - cnt AS DOUBLE) / n)) * 1e9 + 0.5) AS BIGINT)
      |      AS dq
      |  FROM cum, tot)
      |SELECT n AS n_gaps,
      |  ROUND(CAST(sg AS DOUBLE) / n, 4) + 0 AS mean_gap_s,
      |  FLOOR(CAST(MAX(dq) AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS ks_d
      |FROM d GROUP BY n, sg""".stripMargin

  /** L304 restricted mean survival time ([PK] Royston & Parmar 2013;
    * Uno et al. 2014) — the modern model-free survival estimand:
    * RMST(τ) = ∫₀^τ S(t)dt, the area under the KM step curve up to a
    * clinically chosen horizon, reported at τ ∈ {660, 690, 720} hours
    * over q175's churn construction. Published BESIDE the naive
    * truncated mean avg(min(lifetime, τ)) that treats censored users
    * as churned at last sight — the censoring bias RMST exists to
    * avoid, made visible per row (naive ≤ RMST always; the gap is
    * the bias).
    *
    * Parity: S(t) enters the integral as its ALREADY-QUANTIZED 4dp
    * value cast to DECIMAL(9,4) (Spark HALF_UP cast == the mirror's
    * explicit ROUND — the value is an exact 4-decimal rational, so
    * the cast is lossless); segment lengths are exact integer hours;
    * the step integral is an exact DECIMAL sum — no double
    * accumulation anywhere. The naive mean is exact-int ÷ exact-int,
    * 4dp.
    *
    * Scale: the q175 shape verbatim (one user-keyed agg, a ≤|days|
    * day census, tiny windows); the τ-explode multiplies only the
    * ≤|days| census ×3. */
  def q369Rmst(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"),
      countDistinct("user_id").as("nu"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        col("nu"))
    val day = peru.groupBy("t")
      .agg(sum(col("churn")).as("d"), sum(lit(1L) - col("churn")).as("c"),
        max(col("nu")).as("nu"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withRisk = day.withColumn("n_risk",
      col("nu") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
    val dead = max(when(col("d") >= col("n_risk"), 1L).otherwise(0L))
      .over(wCum)
    val lnTerm9 = when(col("d") === 0 || col("d") >= col("n_risk"), lit(0L))
      .otherwise(Parity.quant(log((col("n_risk") - col("d")).cast("double") /
        col("n_risk").cast("double")), 1e9))
    val km = withRisk
      .withColumn("dead", dead)
      .withColumn("ln_s", sum(lnTerm9).over(wCum).cast("double") / 1e9)
      .select(col("t"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(col("ln_s")), 4)).as("sv"))
    val taus = km.select(col("t"), col("sv"),
      explode(array(lit(660L), lit(690L), lit(720L))).as("tau"))
    val wt = Window.partitionBy("tau").orderBy("t")
    val seg = taus
      .withColumn("t_next",
        greatest(coalesce(lead(col("t"), 1).over(wt), col("tau")),
          col("t")))
      .select(col("tau"),
        col("sv").cast("decimal(9,4)").as("svd"),
        (least(col("t_next"), col("tau")) - least(col("t"), col("tau")))
          .as("len"),
        min(col("t")).over(Window.partitionBy("tau")).as("t_first"))
    val rmst = seg.groupBy("tau")
      .agg((sum(col("svd") * col("len")) +
        least(max(col("t_first")), max(col("tau")))
          .cast("decimal(9,4)")).cast("decimal(18,4)")
        // exact 4-dec rational -> the double cast is deterministic;
        // emitted as DOUBLE so the driver hasher sees one dtype
        .cast("double").as("rmst_hours"))
    val naive = peru
      .select(col("t"), col("nu"),
        explode(array(lit(660L), lit(690L), lit(720L))).as("tau"))
      .groupBy("tau")
      .agg((round(sum(least(col("t"), col("tau"))).cast("double") /
        max(col("nu")).cast("double"), 4) + 0.0).as("naive_mean_hours"),
        max(col("nu")).as("n_users"))
    rmst.join(broadcast(naive), Seq("tau"))
      .select(col("tau").as("tau_hours"), col("n_users"),
        col("rmst_hours"), col("naive_mean_hours"))
      .orderBy("tau_hours")
  }

  val q369RmstSql: String =
    """WITH e AS (
      |  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(ts) AS fin, COUNT(DISTINCT user_id) AS nu FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT epoch_us(fin) - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t, CAST(SUM(churn) AS BIGINT) AS d,
      |    CAST(SUM(1 - churn) AS BIGINT) AS c
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, d, c,
      |    (SELECT nu FROM b) - CAST(COALESCE(SUM(d + c) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS n_risk
      |  FROM day),
      |cum AS (
      |  SELECT t, n_risk, d,
      |    MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS dead,
      |    CAST(SUM(CASE WHEN d = 0 OR d >= n_risk THEN CAST(0 AS BIGINT)
      |             ELSE CAST(FLOOR(LN(CAST(n_risk - d AS DOUBLE) / n_risk)
      |               * 1e9 + 0.5) AS BIGINT) END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) / 1e9 AS ln_s
      |  FROM risk),
      |km AS (
      |  SELECT t,
      |    CASE WHEN dead = 1 THEN 0.0 ELSE ROUND(EXP(ln_s), 4) END AS sv
      |  FROM cum),
      |taus(tau) AS (VALUES (CAST(660 AS BIGINT)), (CAST(690 AS BIGINT)),
      |  (CAST(720 AS BIGINT))),
      |seg AS (
      |  SELECT tau,
      |    CAST(ROUND(sv, 4) AS DECIMAL(9,4)) AS svd,
      |    LEAST(GREATEST(COALESCE(LEAD(t) OVER
      |        (PARTITION BY tau ORDER BY t), tau), t), tau)
      |      - LEAST(t, tau) AS len,
      |    MIN(t) OVER (PARTITION BY tau) AS t_first
      |  FROM km CROSS JOIN taus),
      |r AS (
      |  SELECT tau,
      |    CAST(CAST(SUM(svd * len)
      |      + CAST(LEAST(MAX(t_first), MAX(tau)) AS DECIMAL(9,4))
      |      AS DECIMAL(18,4)) AS DOUBLE) AS rmst_hours
      |  FROM seg GROUP BY tau),
      |nv AS (
      |  SELECT tau,
      |    ROUND(CAST(SUM(LEAST(t, tau)) AS DOUBLE)
      |      / (SELECT nu FROM b), 4) + 0 AS naive_mean_hours,
      |    CAST((SELECT nu FROM b) AS BIGINT) AS n_users
      |  FROM peru CROSS JOIN taus GROUP BY tau)
      |SELECT r.tau AS tau_hours, n_users, rmst_hours, naive_mean_hours
      |FROM r JOIN nv ON r.tau = nv.tau
      |ORDER BY tau_hours""".stripMargin

  /** L308 Aalen–Johansen cumulative incidence under competing risks
    * ([PK] Aalen & Johansen 1978; Putter et al. 2007 tutorial) — the
    * estimator 1−KM gets WRONG when churn has more than one cause:
    * users here leave either right after a purchase (converted-then-
    * left) or otherwise, and naively running KM per cause treats the
    * competing cause as censoring, overstating both incidences. AJ
    * allocates risk properly: CIF_k(t) = Σ_{t'≤t} S(t'−)·d_k(t')/n(t')
    * with S the ALL-CAUSE KM. The fundamental identity
    * S(t) + ΣCIF_k(t) = 1 is published per row (its drift bounded by
    * the quantization) — the spec pins it.
    *
    * Parity: the day table is q175's exact construction with churn
    * split by the user's last event type; S(t−) enters each CIF term
    * as the PREVIOUS row's already-4dp-rounded survival (cross-engine
    * exact — no raw libm flows between rows); each term
    * S4(t−)·d_k/n is one double chain nano-quantized BEFORE the
    * prefix sum (seed-122 convention); output 6dp.
    *
    * Scale: the q175 shape — per-user agg, ≤|days| census, tiny
    * windows; the cause split adds one max() to the user agg. */
  def q373AalenJohansen(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"),
      countDistinct("user_id").as("nu"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"),
        max(struct(col("ts"), col("event_type"))).as("last_ev"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        col("last_ev.event_type").as("cause"),
        col("nu"))
    val day = peru.groupBy("t")
      .agg(sum(when(col("churn") === 1L &&
          col("cause") === "purchase", 1L).otherwise(0L)).as("dp"),
        sum(when(col("churn") === 1L &&
          col("cause") =!= "purchase", 1L).otherwise(0L)).as("dq"),
        sum(lit(1L) - col("churn")).as("c"),
        max(col("nu")).as("nu"))
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val d = col("dp") + col("dq")
    val withRisk = day.withColumn("n_risk",
      col("nu") - coalesce(sum(d + col("c")).over(wPrev), lit(0L)))
    val dead = max(when(d >= col("n_risk"), 1L).otherwise(0L)).over(wCum)
    val lnTerm9 = when(d === 0L || d >= col("n_risk"), lit(0L))
      .otherwise(Parity.quant(log((col("n_risk") - d).cast("double") /
        col("n_risk").cast("double")), 1e9))
    val base = withRisk
      .withColumn("dead", dead)
      .withColumn("ln_prev",
        coalesce(sum(lnTerm9).over(wPrev), lit(0L)).cast("double") / 1e9)
      .withColumn("dead_prev",
        coalesce(max(when(d >= col("n_risk"), 1L).otherwise(0L))
          .over(wPrev), lit(0L)))
      .withColumn("ln_s", sum(lnTerm9).over(wCum).cast("double") / 1e9)
      // S(t−): the previous row's published 4dp survival — exact
      // cross-engine, so no raw libm value crosses rows
      .withColumn("s_prev", when(col("dead_prev") === 1L, lit(0.0))
        .otherwise(round(exp(col("ln_prev")), 4)))
    def cifTerm(dk: Column): Column =
      Parity.quant(col("s_prev") * dk.cast("double") /
        col("n_risk").cast("double"), 1e9)
    val cum = base
      .withColumn("cifp9", sum(cifTerm(col("dp"))).over(wCum))
      .withColumn("cifq9", sum(cifTerm(col("dq"))).over(wCum))
    cum.select(col("t").as("t_hours"), col("n_risk"),
        col("dp").as("d_purchase"), col("dq").as("d_other"),
        col("c").as("n_censored"),
        Parity.fix(col("cifp9").cast("double") / 1e9, 6).as("cif_purchase"),
        Parity.fix(col("cifq9").cast("double") / 1e9, 6).as("cif_other"),
        when(col("dead") === 1L, lit(0.0))
          .otherwise(round(exp(col("ln_s")), 4)).as("survival"))
      .orderBy("t_hours")
  }

  val q373AalenJohansenSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_type FROM events
      |  WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(ts) AS fin, COUNT(DISTINCT user_id) AS nu FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT epoch_us(fin) - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn,
      |    (MAX({'ts': ts, 'et': event_type})).et AS cause
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN churn = 1 AND cause = 'purchase'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS dp,
      |    CAST(SUM(CASE WHEN churn = 1 AND cause <> 'purchase'
      |      THEN 1 ELSE 0 END) AS BIGINT) AS dq,
      |    CAST(SUM(1 - churn) AS BIGINT) AS c
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, dp, dq, c,
      |    (SELECT nu FROM b) - CAST(COALESCE(SUM(dp + dq + c) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS BIGINT) AS n_risk
      |  FROM day),
      |cum0 AS (
      |  SELECT t, dp, dq, c, n_risk,
      |    MAX(CASE WHEN dp + dq >= n_risk THEN 1 ELSE 0 END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS dead,
      |    COALESCE(MAX(CASE WHEN dp + dq >= n_risk THEN 1 ELSE 0 END)
      |      OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS dead_prev,
      |    CAST(SUM(CASE WHEN dp + dq = 0 OR dp + dq >= n_risk
      |        THEN CAST(0 AS BIGINT)
      |        ELSE CAST(FLOOR(LN(CAST(n_risk - dp - dq AS DOUBLE)
      |          / n_risk) * 1e9 + 0.5) AS BIGINT) END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS DOUBLE) / 1e9 AS ln_s,
      |    CAST(COALESCE(SUM(CASE WHEN dp + dq = 0 OR dp + dq >= n_risk
      |        THEN CAST(0 AS BIGINT)
      |        ELSE CAST(FLOOR(LN(CAST(n_risk - dp - dq AS DOUBLE)
      |          / n_risk) * 1e9 + 0.5) AS BIGINT) END) OVER
      |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
      |      0) AS DOUBLE) / 1e9 AS ln_prev
      |  FROM risk),
      |cum1 AS (
      |  SELECT *,
      |    CASE WHEN dead_prev = 1 THEN 0.0
      |      ELSE ROUND(EXP(ln_prev), 4) END AS s_prev
      |  FROM cum0),
      |cum2 AS (
      |  SELECT *,
      |    CAST(SUM(CAST(FLOOR(s_prev * dp / n_risk * 1e9 + 0.5)
      |      AS BIGINT)) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cifp9,
      |    CAST(SUM(CAST(FLOOR(s_prev * dq / n_risk * 1e9 + 0.5)
      |      AS BIGINT)) OVER (ORDER BY t
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cifq9
      |  FROM cum1)
      |SELECT t AS t_hours, n_risk, dp AS d_purchase, dq AS d_other,
      |  c AS n_censored,
      |  FLOOR(CAST(cifp9 AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 + 0
      |    AS cif_purchase,
      |  FLOOR(CAST(cifq9 AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 + 0
      |    AS cif_other,
      |  CASE WHEN dead = 1 THEN 0.0 ELSE ROUND(EXP(ln_s), 4) END
      |    AS survival
      |FROM cum2 ORDER BY t_hours""".stripMargin

  /** L319 weighted log-rank panel *(added r17)* — q224's two-group
    * comparison under the THREE classical weight choices in one
    * query ([PK] Mantel 1966; Gehan 1965; Tarone & Ware 1977):
    * log-rank (w = 1, proportional-hazards-optimal), Gehan–Breslow
    * (w = n_t/N, early-difference-sensitive), Tarone–Ware
    * (w = √(n_t/N), the compromise). Weights are N-NORMALIZED — Z is
    * scale-invariant in w, and w ≤ 1 keeps every quantized term
    * bounded at any SF (raw Gehan w² = n² would overflow the micro
    * grid at ~30M users). The panel is the readout a single test
    * hides: when the hazard gap concentrates early, Gehan fires
    * hardest; late, log-rank does.
    *
    * Parity: the q224 frame verbatim (hour-census d/c counts, at-risk
    * from reverse cumulatives); per-time numerator w·(d1 − d·n1/n)
    * and variance w²·V terms are each ONE identical double chain
    * micro-quantized (1e6) BEFORE the cross-row sum (seed-122
    * convention — √ of an exact ratio is IEEE-correctly-rounded and
    * exempt); Z is one double chain, 4dp.
    *
    * Scale: one fact scan → per-user agg → scale-constant hour
    * census; the 3-method explode multiplies CENSUS rows, not fact
    * rows; unpartitioned windows run over the census only (q224's
    * documented shape); 3-row output. */
  def q384WeightedLogRank(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"))
    val peru = e.groupBy("user_id")
      .agg(min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))
      .crossJoin(broadcast(bounds))
      .select(expr("(unix_micros(last_ts) - unix_micros(first_ts))" +
        " div 3600000000").as("t"),
        when(unix_micros(col("last_ts")) <=
          col("end_us") - 12L * 3600L * 1000000L, 1L)
          .otherwise(0L).as("churn"),
        pmod(col("user_id"), lit(2L)).as("g"))
    val day = peru.groupBy("t")
      .agg(sum(when(col("g") === 0, col("churn")).otherwise(0L)).as("d1"),
        sum(when(col("g") === 0, lit(1L) - col("churn")).otherwise(0L)).as("c1"),
        sum(when(col("g") === 1, col("churn")).otherwise(0L)).as("d2"),
        sum(when(col("g") === 1, lit(1L) - col("churn")).otherwise(0L)).as("c2"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wPrev = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = day
      .withColumn("nu1", sum(col("d1") + col("c1")).over(wAll))
      .withColumn("nu2", sum(col("d2") + col("c2")).over(wAll))
      .withColumn("n1r", col("nu1") -
        coalesce(sum(col("d1") + col("c1")).over(wPrev), lit(0L)))
      .withColumn("n2r", col("nu2") -
        coalesce(sum(col("d2") + col("c2")).over(wPrev), lit(0L)))
      .filter(col("d1") + col("d2") > 0)
      .withColumn("method", explode(array(
        lit("gehan"), lit("logrank"), lit("tarone_ware"))))
    val n = (col("n1r") + col("n2r")).cast("double")
    val bigN = (col("nu1") + col("nu2")).cast("double")
    val w = when(col("method") === "logrank", lit(1.0))
      .when(col("method") === "gehan", n / bigN)
      .otherwise(sqrt(n / bigN))
    val d = (col("d1") + col("d2")).cast("double")
    val p1 = col("n1r").cast("double") / n
    val numT = w * (col("d1").cast("double") - d * p1)
    val varT = when(col("n1r") + col("n2r") > 1,
      w * w * d * p1 * (lit(1.0) - p1) * (n - d) / (n - 1.0))
      .otherwise(lit(0.0))
    val g = risk
      .withColumn("nq", Parity.quant(numT, 1e6))
      .withColumn("vq", Parity.quant(varT, 1e6))
      .groupBy("method")
      .agg(max(col("nu1")).as("n_users_g0"),
        max(col("nu2")).as("n_users_g1"),
        sum(col("d1")).as("o1"),
        sum(col("nq")).as("numq"), sum(col("vq")).as("varq"))
    val z = col("numq").cast("double") / 1e6 /
      sqrt(greatest(col("varq").cast("double") / 1e6, lit(1e-300)))
    g.select(col("method"), col("n_users_g0"), col("n_users_g1"),
        col("o1"),
        Parity.fix(z, 4).as("z"),
        ((abs(Parity.fix(z, 4)) > 1.96).cast("long"))
          .as("reject_5pct"))
      .orderBy("method")
  }

  val q384WeightedLogRankSql: String =
    """WITH e AS (
      |  SELECT user_id, ts FROM events WHERE user_id IS NOT NULL),
      |b AS (SELECT MAX(epoch_us(ts)) AS end_us FROM e),
      |peru AS (
      |  SELECT CAST((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000
      |      AS BIGINT) AS t,
      |    CASE WHEN epoch_us(MAX(ts)) <=
      |      (SELECT end_us - 43200000000 FROM b)
      |      THEN 1 ELSE 0 END AS churn,
      |    user_id % 2 AS g
      |  FROM e GROUP BY user_id),
      |day AS (
      |  SELECT t,
      |    CAST(SUM(CASE WHEN g = 0 THEN churn ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN g = 0 THEN 1 - churn ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN g = 1 THEN churn ELSE 0 END) AS BIGINT) AS d2,
      |    CAST(SUM(CASE WHEN g = 1 THEN 1 - churn ELSE 0 END) AS BIGINT) AS c2
      |  FROM peru GROUP BY t),
      |risk AS (
      |  SELECT t, d1, d2,
      |    CAST(SUM(d1 + c1) OVER () AS BIGINT) AS nu1,
      |    CAST(SUM(d2 + c2) OVER () AS BIGINT) AS nu2,
      |    CAST(SUM(d1 + c1) OVER () AS BIGINT)
      |      - CAST(COALESCE(SUM(d1 + c1) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS n1r,
      |    CAST(SUM(d2 + c2) OVER () AS BIGINT)
      |      - CAST(COALESCE(SUM(d2 + c2) OVER (ORDER BY t
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |        AS BIGINT) AS n2r
      |  FROM day),
      |m AS (
      |  SELECT r.*, mm.method,
      |    CASE mm.method
      |      WHEN 'logrank' THEN 1.0
      |      WHEN 'gehan' THEN CAST(n1r + n2r AS DOUBLE) / (nu1 + nu2)
      |      ELSE SQRT(CAST(n1r + n2r AS DOUBLE) / (nu1 + nu2)) END AS w
      |  FROM risk r CROSS JOIN
      |    (VALUES ('gehan'), ('logrank'), ('tarone_ware')) mm(method)
      |  WHERE r.d1 + r.d2 > 0),
      |terms AS (
      |  SELECT method, nu1, nu2, d1,
      |    CAST(FLOOR(w * (CAST(d1 AS DOUBLE) - CAST(d1 + d2 AS DOUBLE)
      |      * (CAST(n1r AS DOUBLE) / CAST(n1r + n2r AS DOUBLE)))
      |      * 1e6 + 0.5) AS BIGINT) AS nq,
      |    CAST(FLOOR(CASE WHEN n1r + n2r > 1
      |      THEN w * w * CAST(d1 + d2 AS DOUBLE)
      |        * (CAST(n1r AS DOUBLE) / CAST(n1r + n2r AS DOUBLE))
      |        * (1.0 - CAST(n1r AS DOUBLE) / CAST(n1r + n2r AS DOUBLE))
      |        * (CAST(n1r + n2r AS DOUBLE) - CAST(d1 + d2 AS DOUBLE))
      |        / (CAST(n1r + n2r AS DOUBLE) - 1.0)
      |      ELSE 0.0 END * 1e6 + 0.5) AS BIGINT) AS vq
      |  FROM m),
      |g AS (
      |  SELECT method, MAX(nu1) AS n_users_g0, MAX(nu2) AS n_users_g1,
      |    CAST(SUM(d1) AS BIGINT) AS o1,
      |    CAST(SUM(nq) AS BIGINT) AS numq,
      |    CAST(SUM(vq) AS BIGINT) AS varq
      |  FROM terms GROUP BY method)
      |SELECT method, n_users_g0, n_users_g1, o1,
      |  FLOOR(CAST(numq AS DOUBLE) / 1e6
      |    / SQRT(GREATEST(CAST(varq AS DOUBLE) / 1e6, 1e-300))
      |    * 1e4 + 0.5) / 1e4 + 0 AS z,
      |  CAST(CASE WHEN ABS(FLOOR(CAST(numq AS DOUBLE) / 1e6
      |    / SQRT(GREATEST(CAST(varq AS DOUBLE) / 1e6, 1e-300))
      |    * 1e4 + 0.5) / 1e4 + 0) > 1.96 THEN 1 ELSE 0 END AS BIGINT)
      |    AS reject_5pct
      |FROM g ORDER BY method""".stripMargin
}
