package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.SeriesStats.{daily, dailySql, daily2, daily2Sql, lagStack}

/** Econometric screens on the daily order series (round 14): Granger
  * causality (q321), Newey–West HAC inference (q322), classical
  * seasonal decomposition (q323), Diebold–Mariano forecast comparison
  * (q324), and Engle's ARCH LM volatility-clustering test (q325).
  *
  * All five ride the [[SeriesStats]] base: the day-level census is
  * scale-CONSTANT (the fixture date range is fixed), so every
  * statistic here is one fact-scan day aggregation followed by
  * bounded-census windows/aggregates — the only SF-growing stage is
  * the map-side day rollup. Regressions reuse the q298 discipline:
  * exact DECIMAL(38) moment sums, closed-form 2×2 / symmetric-adjugate
  * 3×3 solves in ONE fixed double chain, outputs floor-quantized at
  * 6dp (4dp for revenue-unit values) so both engines emit identical
  * bits. No matrix library, no iteration, no driver action.
  */
object SeriesEconometrics {

  /** L255 Granger-causality screen, lag 1, both directions ([PK]
    * Granger 1969): does yesterday's ORDER COUNT improve today's
    * revenue forecast beyond yesterday's revenue (and vice versa)?
    * For each direction, F = ((RSS_r − RSS_u)/1)/(RSS_u/(n−3))
    * comparing the unrestricted a_t = β₀ + β₁·a_{t−1} + β₂·x_{t−1}
    * against the own-lag-only restriction — the standard bivariate
    * lead–lag screen run before trusting a covariate in a forecasting
    * mix.
    *
    * Parity: the 14 cross-moments of (rev_t, cnt_t, rev_{t−1},
    * cnt_{t−1}) are exact DECIMAL(38) sums over the day census; both
    * RSS come from the closed-form moment identities (RSS = Syy −
    * β'X'y — no residual pass), the 3×3 solve is the q298 symmetric
    * adjugate, and each F/β is one fixed double chain quantized 6dp.
    *
    * Scale: one fact-scan day rollup; a single ROW lag window and one
    * 14-moment agg over the ~2,400-row census. Guards: n < 5,
    * singular Gram, or RSS_u ≤ 0 → null F. */
  def q321Granger(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val l = daily2(s, dir)
      .select(col("day"), col("rev").as("a"), col("cnt").as("b"),
        lag(col("rev"), 1).over(w).as("p"),
        lag(col("cnt"), 1).over(w).as("q"))
      .filter(col("p").isNotNull)
    def d(c: String) = col(c).cast(dec)
    val m = l.agg(count(lit(1)).as("n"),
      sum(d("a")).as("sa"), sum(d("b")).as("sb"),
      sum(d("p")).as("sp"), sum(d("q")).as("sq"),
      sum(d("a") * d("a")).as("saa"), sum(d("b") * d("b")).as("sbb"),
      sum(d("p") * d("p")).as("spp"), sum(d("q") * d("q")).as("sqq"),
      sum(d("a") * d("p")).as("sap"), sum(d("a") * d("q")).as("saq"),
      sum(d("b") * d("p")).as("sbp"), sum(d("b") * d("q")).as("sbq"),
      sum(d("p") * d("q")).as("spq"))
    def f(c: String) = col(c).cast("double")
    val (n, sp, sq) = (f("n"), f("sp"), f("sq"))
    val (spp, sqq, spq) = (f("spp"), f("sqq"), f("spq"))
    // shared regressor adjugate (intercept, p, q) — q298 form
    val c00 = spp * sqq - spq * spq
    val c01 = -(sp * sqq - spq * sq)
    val c02 = sp * spq - spp * sq
    val c11 = n * sqq - sq * sq
    val c12 = -(n * spq - sp * sq)
    val c22 = n * spp - sp * sp
    val det = n * c00 + sp * c01 + sq * c02
    // unrestricted RSS for target (sy, syP, syQ, syy); restricted RSS
    // for the own-lag simple regression (sx, sxx, syx cross-moment)
    def rssU(sy: Column, syp: Column, syq: Column, syy: Column) = {
      val b0 = (c00 * sy + c01 * syp + c02 * syq) / det
      val b1 = (c01 * sy + c11 * syp + c12 * syq) / det
      val b2 = (c02 * sy + c12 * syp + c22 * syq) / det
      (syy - (b0 * sy + b1 * syp + b2 * syq), b2)
    }
    def rssR(sy: Column, sx: Column, sxx: Column, syx: Column,
        syy: Column) = {
      val den = n * sxx - sx * sx
      val b = (n * syx - sx * sy) / den
      val a0 = (sy - b * sx) / n
      syy - a0 * sy - b * syx
    }
    // direction 1: lagged COUNT helps revenue (target a; own lag p)
    val (u1, beta1) = rssU(f("sa"), f("sap"), f("saq"), f("saa"))
    val r1 = rssR(f("sa"), sp, spp, f("sap"), f("saa"))
    // direction 2: lagged REVENUE helps count (target b; own lag q)
    val u2 = rssU(f("sb"), f("sbp"), f("sbq"), f("sbb"))._1
    val r2 = rssR(f("sb"), sq, sqq, f("sbq"), f("sbb"))
    // direction 2's cross coefficient is the P (lagged revenue) one
    val beta2 = (c01 * f("sb") + c11 * f("sbp") + c12 * f("sbq")) / det
    val bad1 = col("n") < 5L || det === 0.0 || u1 <= 0.0
    val bad2 = col("n") < 5L || det === 0.0 || u2 <= 0.0
    m.select(col("n").cast("long").as("n_eff"),
      when(bad1, lit(null).cast("double"))
        .otherwise(Parity.fix((r1 - u1) / (u1 / (n - 3.0)),
          6)).as("f_cnt_to_rev"),
      when(bad1, lit(null).cast("double"))
        .otherwise(Parity.fix(beta1, 6)).as("beta_lag_cnt"),
      when(bad2, lit(null).cast("double"))
        .otherwise(Parity.fix((r2 - u2) / (u2 / (n - 3.0)),
          6)).as("f_rev_to_cnt"),
      when(bad2, lit(null).cast("double"))
        .otherwise(Parity.fix(beta2 * 1e6, 6)).as("beta_lag_rev_ppm"))
  }

  val q321GrangerSql: String =
    s"""WITH d AS ($daily2Sql),
       |l0 AS (
       |  SELECT rev AS a, cnt AS b,
       |    LAG(rev) OVER (ORDER BY day) AS p,
       |    LAG(cnt) OVER (ORDER BY day) AS q
       |  FROM d),
       |l AS (SELECT * FROM l0 WHERE p IS NOT NULL),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(a) AS HUGEINT) AS sa, CAST(SUM(b) AS HUGEINT) AS sb,
       |    CAST(SUM(p) AS HUGEINT) AS sp, CAST(SUM(q) AS HUGEINT) AS sq,
       |    CAST(SUM(CAST(a AS HUGEINT) * a) AS HUGEINT) AS saa,
       |    CAST(SUM(CAST(b AS HUGEINT) * b) AS HUGEINT) AS sbb,
       |    CAST(SUM(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
       |    CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
       |    CAST(SUM(CAST(a AS HUGEINT) * p) AS HUGEINT) AS sap,
       |    CAST(SUM(CAST(a AS HUGEINT) * q) AS HUGEINT) AS saq,
       |    CAST(SUM(CAST(b AS HUGEINT) * p) AS HUGEINT) AS sbp,
       |    CAST(SUM(CAST(b AS HUGEINT) * q) AS HUGEINT) AS sbq,
       |    CAST(SUM(CAST(p AS HUGEINT) * q) AS HUGEINT) AS spq
       |  FROM l),
       |adj AS (
       |  SELECT *, CAST(n AS DOUBLE) AS nf,
       |    CAST(spp AS DOUBLE) * CAST(sqq AS DOUBLE)
       |      - CAST(spq AS DOUBLE) * CAST(spq AS DOUBLE) AS c00,
       |    -(CAST(sp AS DOUBLE) * CAST(sqq AS DOUBLE)
       |      - CAST(spq AS DOUBLE) * CAST(sq AS DOUBLE)) AS c01,
       |    CAST(sp AS DOUBLE) * CAST(spq AS DOUBLE)
       |      - CAST(spp AS DOUBLE) * CAST(sq AS DOUBLE) AS c02,
       |    CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
       |      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) AS c11,
       |    -(CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
       |      - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE)) AS c12,
       |    CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
       |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) AS c22
       |  FROM m),
       |dt AS (
       |  SELECT *, nf * c00 + CAST(sp AS DOUBLE) * c01
       |    + CAST(sq AS DOUBLE) * c02 AS det
       |  FROM adj),
       |fs AS (
       |  SELECT *,
       |    CAST(saa AS DOUBLE)
       |      - ((c00 * CAST(sa AS DOUBLE) + c01 * CAST(sap AS DOUBLE)
       |          + c02 * CAST(saq AS DOUBLE)) / det * CAST(sa AS DOUBLE)
       |        + (c01 * CAST(sa AS DOUBLE) + c11 * CAST(sap AS DOUBLE)
       |          + c12 * CAST(saq AS DOUBLE)) / det * CAST(sap AS DOUBLE)
       |        + (c02 * CAST(sa AS DOUBLE) + c12 * CAST(sap AS DOUBLE)
       |          + c22 * CAST(saq AS DOUBLE)) / det * CAST(saq AS DOUBLE))
       |      AS u1,
       |    (c02 * CAST(sa AS DOUBLE) + c12 * CAST(sap AS DOUBLE)
       |      + c22 * CAST(saq AS DOUBLE)) / det AS beta1,
       |    CAST(saa AS DOUBLE)
       |      - (CAST(sa AS DOUBLE) - (nf * CAST(sap AS DOUBLE)
       |          - CAST(sp AS DOUBLE) * CAST(sa AS DOUBLE))
       |          / (nf * CAST(spp AS DOUBLE)
       |            - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
       |          * CAST(sp AS DOUBLE)) / nf * CAST(sa AS DOUBLE)
       |      - (nf * CAST(sap AS DOUBLE)
       |          - CAST(sp AS DOUBLE) * CAST(sa AS DOUBLE))
       |        / (nf * CAST(spp AS DOUBLE)
       |          - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE))
       |        * CAST(sap AS DOUBLE) AS r1,
       |    CAST(sbb AS DOUBLE)
       |      - ((c00 * CAST(sb AS DOUBLE) + c01 * CAST(sbp AS DOUBLE)
       |          + c02 * CAST(sbq AS DOUBLE)) / det * CAST(sb AS DOUBLE)
       |        + (c01 * CAST(sb AS DOUBLE) + c11 * CAST(sbp AS DOUBLE)
       |          + c12 * CAST(sbq AS DOUBLE)) / det * CAST(sbp AS DOUBLE)
       |        + (c02 * CAST(sb AS DOUBLE) + c12 * CAST(sbp AS DOUBLE)
       |          + c22 * CAST(sbq AS DOUBLE)) / det * CAST(sbq AS DOUBLE))
       |      AS u2,
       |    (c01 * CAST(sb AS DOUBLE) + c11 * CAST(sbp AS DOUBLE)
       |      + c12 * CAST(sbq AS DOUBLE)) / det AS beta2,
       |    CAST(sbb AS DOUBLE)
       |      - (CAST(sb AS DOUBLE) - (nf * CAST(sbq AS DOUBLE)
       |          - CAST(sq AS DOUBLE) * CAST(sb AS DOUBLE))
       |          / (nf * CAST(sqq AS DOUBLE)
       |            - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
       |          * CAST(sq AS DOUBLE)) / nf * CAST(sb AS DOUBLE)
       |      - (nf * CAST(sbq AS DOUBLE)
       |          - CAST(sq AS DOUBLE) * CAST(sb AS DOUBLE))
       |        / (nf * CAST(sqq AS DOUBLE)
       |          - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))
       |        * CAST(sbq AS DOUBLE) AS r2
       |  FROM dt)
       |SELECT CAST(n AS BIGINT) AS n_eff,
       |  CASE WHEN n < 5 OR det = 0 OR u1 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("(r1 - u1) / (u1 / (nf - 3.0))", 6)} + 0
       |    END AS f_cnt_to_rev,
       |  CASE WHEN n < 5 OR det = 0 OR u1 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("beta1", 6)} + 0 END AS beta_lag_cnt,
       |  CASE WHEN n < 5 OR det = 0 OR u2 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("(r2 - u2) / (u2 / (nf - 3.0))", 6)} + 0
       |    END AS f_rev_to_cnt,
       |  CASE WHEN n < 5 OR det = 0 OR u2 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("beta2 * 1e6", 6)} + 0 END
       |    AS beta_lag_rev_ppm
       |FROM fs""".stripMargin

  /** L256 Newey–West HAC inference for the daily-revenue mean ([PK]
    * Newey & West 1987): the long-run variance γ₀ + 2Σ_{l≤7} w_l·γ_l
    * with Bartlett weights w_l = 1 − l/8, reported beside the naive
    * iid variance so the autocorrelation-driven SE inflation of the
    * "average daily revenue" KPI is visible — the number every
    * day-aggregated dashboard quotes with the WRONG error bar when
    * days are serially dependent (q208 measures the ACF; this prices
    * it).
    *
    * Parity: each γ_l rides the q208 exact-moment identity — the
    * lag-overlap sums Σy_t·y_{t−l}, the two boundary sums and the
    * overlap count are exact DECIMAL/HUGEINT; the demeaning, Bartlett
    * combination, and t-statistics are one fixed double chain,
    * quantized 6dp (mean 4dp).
    *
    * Scale: one day rollup; 7 lag columns from ONE window sort
    * (q208's stack form) and a ≤8-group agg. */
  def q322NeweyWest(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val d0 = daily(s, dir)
    val lags = lagStack(d0, w, "rev", "rev", 1 to 7)
    def d(c: Column) = c.cast(dec)
    val perLag = lags.groupBy("lag").agg(count(lit(1)).as("m"),
      sum(d(col("y")) * d(col("x"))).as("sxy"),
      sum(d(col("y"))).as("syh"), sum(d(col("x"))).as("sxt"))
    val tot = d0.agg(count(lit(1)).as("n"), sum(d(col("rev"))).as("s"),
      sum(d(col("rev")) * d(col("rev"))).as("q"))
    def f(c: String) = col(c).cast("double")
    val j = perLag.crossJoin(broadcast(tot))
    val mean = f("s") / f("n")
    // γ_l = (Σxy − ȳ(Σy_head + Σx_tail) + m·ȳ²)/n  (statsmodels'
    // 1/n convention); Bartlett weight 1 − l/8
    val gamma = (f("sxy") - mean * (f("syh") + f("sxt")) +
      f("m") * mean * mean) / f("n")
    val wl = lit(1.0) - f("lag") / 8.0
    // quantize each lag's Bartlett term RELATIVE to γ₀ at nano-units
    // before the cross-lag sum (q179/q185 convention, normalized:
    // Spark's floor(double) returns LONG and saturates at ±2⁶³ on the
    // raw covariance scale — γ_l/γ₀ is O(1) at every SF, so the
    // 7-term tail is an exact integer sum in both engines)
    val g0j = (f("q") - f("s") * f("s") / f("n")) / f("n")
    val term9 = Parity.quant(gamma / g0j * wl * 2.0, 1e9)
    val g = j.agg(max(col("n")).as("n"), max(col("s")).as("s"),
      max(col("q")).as("q"),
      (sum(term9).cast("double") / 1e9).as("relTail"))
    val n = f("n")
    val mu = f("s") / n
    val g0 = (f("q") - f("s") * f("s") / n) / n
    val lrv = g0 * (lit(1.0) + col("relTail"))
    val seIid = sqrt(g0 / n)
    val seHac = sqrt(lrv / n)
    g.select(col("n").cast("long").as("n_days"),
      Parity.fix(mu, 4).as("mean_rev"),
      Parity.fix(g0, 6).as("gamma0"),
      when(lrv <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix(lrv, 6)).as("long_run_var"),
      when(g0 <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix(mu / seIid, 6)).as("t_iid"),
      when(lrv <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix(mu / seHac, 6)).as("t_hac"))
  }

  val q322NeweyWestSql: String =
    s"""WITH d AS ($dailySql),
       |lg AS (
       |  SELECT l.lag, rev AS y,
       |    LAG(rev, l.lag) OVER (PARTITION BY l.lag ORDER BY day) AS x
       |  FROM d CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l),
       |pl AS (
       |  SELECT lag, COUNT(*) AS m,
       |    CAST(SUM(CAST(y AS HUGEINT) * x) AS HUGEINT) AS sxy,
       |    CAST(SUM(y) AS HUGEINT) AS syh, CAST(SUM(x) AS HUGEINT) AS sxt
       |  FROM lg WHERE x IS NOT NULL GROUP BY lag),
       |tot AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(rev) AS HUGEINT) AS s,
       |    CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS q
       |  FROM d),
       |g AS (
       |  SELECT MAX(n) AS n, MAX(s) AS s, MAX(q) AS q,
       |    CAST(SUM(CAST(FLOOR((CAST(sxy AS DOUBLE)
       |        - CAST(s AS DOUBLE) / n * (CAST(syh AS DOUBLE)
       |          + CAST(sxt AS DOUBLE))
       |        + m * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
       |      / n
       |      / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
       |        * CAST(s AS DOUBLE) / n) / n)
       |      * (1.0 - lag / 8.0) * 2.0 * 1e9 + 0.5) AS HUGEINT))
       |      AS DOUBLE) / 1e9 AS rel_tail
       |  FROM pl CROSS JOIN tot),
       |g2 AS (
       |  SELECT n, s, rel_tail,
       |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
       |      * CAST(s AS DOUBLE) / n) / n AS g0,
       |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
       |      * CAST(s AS DOUBLE) / n) / n * (1.0 + rel_tail) AS lrv
       |  FROM g)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  ${Parity.fixSql("CAST(s AS DOUBLE) / n", 4)} + 0 AS mean_rev,
       |  ${Parity.fixSql("g0", 6)} + 0 AS gamma0,
       |  CASE WHEN lrv <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("lrv", 6)} + 0 END AS long_run_var,
       |  CASE WHEN g0 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("CAST(s AS DOUBLE) / n / SQRT(g0 / n)", 6)}
       |      + 0 END AS t_iid,
       |  CASE WHEN lrv <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("CAST(s AS DOUBLE) / n / SQRT(lrv / n)", 6)}
       |      + 0 END AS t_hac
       |FROM g2""".stripMargin

  /** L257 classical additive seasonal decomposition ([PK] the
    * centered-moving-average method behind `decompose()`; strength
    * per Wang, Smith & Hyndman 2006): trend = centered 7-day MA,
    * seasonal = day-of-week means of the detrended series, and the
    * seasonality STRENGTH 1 − var(remainder)/var(detrended). Because
    * the per-dow seasonal estimate IS the dow group mean, the
    * remainder variance is EXACTLY the within-dow variance, so the
    * strength is the ANOVA decomposition 1 − SSW/SST on the
    * (dow, detrended) census — no per-row remainder pass needed.
    * Output: 7 ISO-weekday rows (seasonal index in dollars, days
    * observed) with the strength repeated — the standing "is this
    * series worth a seasonal model?" census. (The textbook re-centers
    * the 7 indices to sum to zero; the centered-MA detrending already
    * leaves their mean ≈ 0, and skipping the re-centering keeps every
    * output a SINGLE exact-integer division — the grand detrended
    * mean is reported instead so the reader can re-center at will.)
    *
    * Parity: the full-window MA keeps sums exact int64; the detrended
    * series is held in EXACT SEVENTHS — d7 = 7·rev − Σwindow is an
    * integer — so per-dow (count, Σd7, Σd7²) are exact DECIMAL and
    * each output is one double chain on exact ints. The 7 within-dow
    * SS terms are quantized to integer milli-units BEFORE the
    * cross-dow sum (the q179/q185 convention), keeping the strength
    * partition-order independent.
    *
    * Scale: one day rollup; one 7-row centered window pass and a
    * 7-row dow census. */
  def q323SeasonalDecomp(s: SparkSession, dir: String): DataFrame = {
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val det = daily(s, dir)
      .withColumn("k", count(lit(1)).over(w7))
      .withColumn("sw", sum(col("rev")).over(w7))
      .filter(col("k") === 7L)
      .select((weekday(col("day")) + 1).as("isodow"),
        (col("rev") * 7L - col("sw")).as("d7"))
    def d(c: Column) = c.cast(dec)
    def f(c: Column) = c.cast("double")
    val dow = det.groupBy("isodow")
      .agg(count(lit(1)).as("m"), sum(d(col("d7"))).as("sd7"),
        sum(d(col("d7")) * d(col("d7"))).as("sdd7"))
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val n = sum(col("m")).over(whole).cast("double")
    val sd = sum(col("sd7")).over(whole).cast("double")
    val sdd = sum(col("sdd7")).over(whole).cast("double")
    val sst = sdd - sd * sd / n
    // within-dow SS quantized RELATIVE to SST at nano-units (the q322
    // normalization — Spark's floor(double) is LONG-typed and the raw
    // SS scale overflows it past sf0.001), summed exactly across the
    // 7 dows in a second window pass
    val withRel = dow
      .withColumn("sst", sst).withColumn("n", n).withColumn("sd", sd)
      .withColumn("rel9",
        Parity.quant((f(col("sdd7")) - f(col("sd7")) * f(col("sd7")) /
          f(col("m"))) / col("sst"), 1e9))
      .withColumn("sswRel",
        sum(col("rel9")).over(whole).cast("double") / 1e9)
    val strength = greatest(lit(0.0), lit(1.0) - col("sswRel"))
    withRel.select(col("isodow").cast("long").as("isodow"),
        col("m").cast("long").as("n_days"),
        Parity.fix(f(col("sd7")) / f(col("m")) / 7.0, 4).as("seasonal"),
        Parity.fix(col("sd") / col("n") / 7.0, 4).as("grand_detrended_mean"),
        when(col("sst") <= 0.0, lit(null).cast("double"))
          .otherwise(Parity.fix(strength, 6)).as("seasonal_strength"))
      .orderBy("isodow")
  }

  val q323SeasonalDecompSql: String =
    s"""WITH d AS ($dailySql),
       |ma AS (
       |  SELECT day, rev,
       |    COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
       |      AND 3 FOLLOWING) AS k,
       |    CAST(SUM(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING
       |      AND 3 FOLLOWING) AS BIGINT) AS sw
       |  FROM d),
       |det AS (
       |  SELECT CAST(date_part('isodow', day) AS BIGINT) AS isodow,
       |    rev * 7 - sw AS d7
       |  FROM ma WHERE k = 7),
       |dow AS (
       |  SELECT isodow, COUNT(*) AS m, CAST(SUM(d7) AS HUGEINT) AS sd7,
       |    CAST(SUM(CAST(d7 AS HUGEINT) * d7) AS HUGEINT) AS sdd7
       |  FROM det GROUP BY isodow),
       |w0 AS (
       |  SELECT *,
       |    CAST(SUM(m) OVER () AS DOUBLE) AS n,
       |    CAST(SUM(sd7) OVER () AS DOUBLE) AS sd,
       |    CAST(SUM(sdd7) OVER () AS DOUBLE) AS sdd
       |  FROM dow),
       |w1 AS (
       |  SELECT *, sdd - sd * sd / n AS sst,
       |    ${Parity.quantSql("(CAST(sdd7 AS DOUBLE) - CAST(sd7 AS DOUBLE)" +
                              " * CAST(sd7 AS DOUBLE) / m) / (sdd - sd * sd / n)", 9)}
       |      AS rel9
       |  FROM w0),
       |w AS (
       |  SELECT *, CAST(SUM(rel9) OVER () AS DOUBLE) / 1e9 AS ssw_rel
       |  FROM w1)
       |SELECT isodow, CAST(m AS BIGINT) AS n_days,
       |  ${Parity.fixSql("CAST(sd7 AS DOUBLE) / m / 7.0", 4)} + 0
       |    AS seasonal,
       |  ${Parity.fixSql("sd / n / 7.0", 4)} + 0
       |    AS grand_detrended_mean,
       |  CASE WHEN sst <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("GREATEST(0.0, 1.0 - ssw_rel)", 6)} + 0
       |    END AS seasonal_strength
       |FROM w
       |ORDER BY isodow""".stripMargin

  /** L258 Diebold–Mariano forecast comparison ([PK] Diebold & Mariano
    * 1995): is the seasonal-naive forecast (rev_{t−7}) significantly
    * better than the naive one (rev_{t−1}) under squared loss? DM =
    * d̄ / √(lrv_d/n) on the loss differential d_t = e₁² − e₂², with
    * the same Bartlett-weighted HAC long-run variance as q322 (L = 7)
    * — the standard test run before swapping forecasting methods in a
    * capacity-planning pipeline, and the q278 accuracy panel's
    * significance companion.
    *
    * Parity: both forecast errors and d_t are exact int64 (DECIMAL
    * sums — d_t is a difference of squared daily-revenue errors);
    * every γ_l rides the q322/q208 exact-moment identity; the DM
    * chain is one fixed double expression, 6dp.
    *
    * Scale: one day rollup, two lag columns and 7 differential lags
    * from ONE window sort, ≤8-group agg. */
  def q324DieboldMariano(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val base = daily(s, dir)
      .withColumn("f1", lag(col("rev"), 1).over(w))
      .withColumn("f7", lag(col("rev"), 7).over(w))
      .filter(col("f7").isNotNull)
      .select(col("day"),
        ((col("rev") - col("f1")) * (col("rev") - col("f1")) -
          (col("rev") - col("f7")) * (col("rev") - col("f7"))).as("dt"))
      .localCheckpoint(eager = false)
    val lags = lagStack(base, w, "dt", "dt", 1 to 7)
    def d(c: Column) = c.cast(dec)
    val perLag = lags.groupBy("lag").agg(count(lit(1)).as("m"),
      sum(d(col("y")) * d(col("x"))).as("sxy"),
      sum(d(col("y"))).as("syh"), sum(d(col("x"))).as("sxt"))
    val tot = base.agg(count(lit(1)).as("n"), sum(d(col("dt"))).as("s"),
      sum(d(col("dt")) * d(col("dt"))).as("q"))
    def f(c: String) = col(c).cast("double")
    val j = perLag.crossJoin(broadcast(tot))
    val mean = f("s") / f("n")
    val gamma = (f("sxy") - mean * (f("syh") + f("sxt")) +
      f("m") * mean * mean) / f("n")
    val wl = lit(1.0) - f("lag") / 8.0
    // per-lag terms quantized RELATIVE to γ₀ (q322 form — see there)
    val g0j = (f("q") - f("s") * f("s") / f("n")) / f("n")
    val term9 = Parity.quant(gamma / g0j * wl * 2.0, 1e9)
    val g = j.agg(max(col("n")).as("n"), max(col("s")).as("s"),
      max(col("q")).as("q"),
      (sum(term9).cast("double") / 1e9).as("relTail"))
    val n = f("n")
    val mu = f("s") / n
    val g0 = (f("q") - f("s") * f("s") / n) / n
    val lrv = g0 * (lit(1.0) + col("relTail"))
    g.select(col("n").cast("long").as("n_days"),
      Parity.fix(mu, 4).as("mean_loss_diff"),
      when(lrv <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix(mu / sqrt(lrv / n), 6)).as("dm_stat"),
      when(lrv <= 0.0, lit(null).cast("long"))
        .otherwise(signum(mu).cast("long")).as("naive_worse"))
  }

  val q324DieboldMarianoSql: String =
    s"""WITH d AS ($dailySql),
       |b AS (
       |  SELECT day,
       |    (rev - LAG(rev, 1) OVER (ORDER BY day))
       |      * (rev - LAG(rev, 1) OVER (ORDER BY day))
       |    - (rev - LAG(rev, 7) OVER (ORDER BY day))
       |      * (rev - LAG(rev, 7) OVER (ORDER BY day)) AS dt
       |  FROM d QUALIFY LAG(rev, 7) OVER (ORDER BY day) IS NOT NULL),
       |lg AS (
       |  SELECT l.lag, dt AS y,
       |    LAG(dt, l.lag) OVER (PARTITION BY l.lag ORDER BY day) AS x
       |  FROM b CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l),
       |pl AS (
       |  SELECT lag, COUNT(*) AS m,
       |    CAST(SUM(CAST(y AS HUGEINT) * x) AS HUGEINT) AS sxy,
       |    CAST(SUM(y) AS HUGEINT) AS syh, CAST(SUM(x) AS HUGEINT) AS sxt
       |  FROM lg WHERE x IS NOT NULL GROUP BY lag),
       |tot AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(dt) AS HUGEINT) AS s,
       |    CAST(SUM(CAST(dt AS HUGEINT) * dt) AS HUGEINT) AS q
       |  FROM b),
       |g AS (
       |  SELECT MAX(n) AS n, MAX(s) AS s, MAX(q) AS q,
       |    CAST(SUM(CAST(FLOOR((CAST(sxy AS DOUBLE)
       |        - CAST(s AS DOUBLE) / n * (CAST(syh AS DOUBLE)
       |          + CAST(sxt AS DOUBLE))
       |        + m * (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n))
       |      / n
       |      / ((CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
       |        * CAST(s AS DOUBLE) / n) / n)
       |      * (1.0 - lag / 8.0) * 2.0 * 1e9 + 0.5) AS HUGEINT))
       |      AS DOUBLE) / 1e9 AS rel_tail
       |  FROM pl CROSS JOIN tot),
       |g2 AS (
       |  SELECT n, s,
       |    (CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
       |      * CAST(s AS DOUBLE) / n) / n * (1.0 + rel_tail) AS lrv
       |  FROM g)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  ${Parity.fixSql("CAST(s AS DOUBLE) / n", 4)} + 0
       |    AS mean_loss_diff,
       |  CASE WHEN lrv <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("CAST(s AS DOUBLE) / n / SQRT(lrv / n)", 6)}
       |      + 0 END AS dm_stat,
       |  CASE WHEN lrv <= 0 THEN NULL
       |    ELSE CAST(SIGN(CAST(s AS DOUBLE)) AS BIGINT) END
       |    AS naive_worse
       |FROM g2""".stripMargin

  /** L259 Engle's ARCH LM test ([PK] Engle 1982), order 2: after an
    * AR(1) mean fit of daily revenue, do SQUARED residuals predict
    * tomorrow's squared residual? LM = n·R² of e²_t on (e²_{t−1},
    * e²_{t−2}) — the volatility-clustering screen that decides whether
    * a variance-stabilizing transform (or a GARCH-class monitor) is
    * needed before alerting on the series. Complements q253 KPSS
    * (level stationarity) and q230 Durbin–Watson (mean-equation
    * autocorrelation) on the same series.
    *
    * Parity: the AR(1) fit is the closed-form 2×2 on exact moments;
    * residuals are floor-quantized to WHOLE DOLLARS (exact int64), so
    * the e² series and all its cross-moments are exact DECIMAL; the
    * auxiliary R² rides the same symmetric-adjugate 3×3 as q321, one
    * double chain, 6dp.
    *
    * Scale: day rollup → 1-row AR(1) broadcast back onto the census
    * (q242 form) → one lag window → one 9-moment agg. */
  def q325ArchLm(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    def dd(c: Column) = c.cast(dec)
    val pairs = daily(s, dir)
      .withColumn("x", lag(col("rev"), 1).over(w))
      .filter(col("x").isNotNull)
      .localCheckpoint(eager = false)
    val fit = pairs.agg(count(lit(1)).as("m"),
      sum(dd(col("rev"))).as("sy"), sum(dd(col("x"))).as("sx"),
      sum(dd(col("x")) * dd(col("x"))).as("sxx"),
      sum(dd(col("x")) * dd(col("rev"))).as("sxy"))
    def f(c: String) = col(c).cast("double")
    val slope = (f("m") * f("sxy") - f("sx") * f("sy")) /
      (f("m") * f("sxx") - f("sx") * f("sx"))
    val icept = (f("sy") - slope * f("sx")) / f("m")
    // Square by plain multiplication, NOT pow(x, 2.0) (r14 advisor):
    // IEEE double multiply is correctly rounded and bit-identical
    // across engines, while libm pow is not — and once |e| > 2^26.5
    // the square exceeds 2^53, where a 1-ulp pow divergence can flip
    // the long cast. floor() yields long in Spark / double in DuckDB;
    // casting through double makes the multiply op-identical (exact
    // below 2^53 either way).
    val e2 = pairs.crossJoin(broadcast(fit.select(slope.as("b"),
        icept.as("a"))))
      .select(col("day"),
        floor(col("rev").cast("double") - col("a") -
          col("b") * col("x").cast("double") + 0.5)
          .cast("double").as("e"))
      .select(col("day"), (col("e") * col("e")).cast("long").as("u"))
    val l = e2
      .withColumn("p", lag(col("u"), 1).over(w))
      .withColumn("q", lag(col("u"), 2).over(w))
      .filter(col("q").isNotNull)
    val m = l.agg(count(lit(1)).as("n"),
      sum(dd(col("u"))).as("su"), sum(dd(col("p"))).as("sp"),
      sum(dd(col("q"))).as("sq"),
      sum(dd(col("u")) * dd(col("u"))).as("suu"),
      sum(dd(col("p")) * dd(col("p"))).as("spp"),
      sum(dd(col("q")) * dd(col("q"))).as("sqq"),
      sum(dd(col("u")) * dd(col("p"))).as("sup"),
      sum(dd(col("u")) * dd(col("q"))).as("suq"),
      sum(dd(col("p")) * dd(col("q"))).as("spq"))
    val (n, sp, sq) = (f("n"), f("sp"), f("sq"))
    val (spp, sqq, spq) = (f("spp"), f("sqq"), f("spq"))
    val c00 = spp * sqq - spq * spq
    val c01 = -(sp * sqq - spq * sq)
    val c02 = sp * spq - spp * sq
    val c11 = n * sqq - sq * sq
    val c12 = -(n * spq - sp * sq)
    val c22 = n * spp - sp * sp
    val det = n * c00 + sp * c01 + sq * c02
    val b0 = (c00 * f("su") + c01 * f("sup") + c02 * f("suq")) / det
    val b1 = (c01 * f("su") + c11 * f("sup") + c12 * f("suq")) / det
    val b2 = (c02 * f("su") + c12 * f("sup") + c22 * f("suq")) / det
    val rss = f("suu") - (b0 * f("su") + b1 * f("sup") + b2 * f("suq"))
    val tss = f("suu") - f("su") * f("su") / n
    val r2 = lit(1.0) - rss / tss
    val bad = col("n") < 5L || det === 0.0 || tss <= 0.0
    m.select(col("n").cast("long").as("n_eff"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(r2,
        6)).as("aux_r2"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(n * r2, 6)).as("arch_lm"),
      when(bad, lit(null).cast("long"))
        .otherwise((n * r2 > 5.991).cast("long")).as("reject_5pct"))
  }

  val q325ArchLmSql: String =
    s"""WITH d AS ($dailySql),
       |pr AS (
       |  SELECT day, rev, LAG(rev) OVER (ORDER BY day) AS x
       |  FROM d QUALIFY x IS NOT NULL),
       |ft AS (
       |  SELECT (CAST(COUNT(*) AS DOUBLE)
       |        * CAST(SUM(CAST(x AS HUGEINT) * rev) AS DOUBLE)
       |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(rev) AS DOUBLE))
       |    / (CAST(COUNT(*) AS DOUBLE)
       |        * CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE)
       |      - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS b,
       |    COUNT(*) AS m, CAST(SUM(rev) AS HUGEINT) AS sy,
       |    CAST(SUM(x) AS HUGEINT) AS sx
       |  FROM pr),
       |ft2 AS (
       |  SELECT b, (CAST(sy AS DOUBLE) - b * CAST(sx AS DOUBLE)) / m AS a
       |  FROM ft),
       |e2 AS (
       |  SELECT day, CAST(FLOOR(CAST(rev AS DOUBLE) - a
       |      - b * CAST(x AS DOUBLE) + 0.5)
       |    * FLOOR(CAST(rev AS DOUBLE) - a
       |      - b * CAST(x AS DOUBLE) + 0.5) AS BIGINT) AS u
       |  FROM pr CROSS JOIN ft2),
       |l AS (
       |  SELECT u, LAG(u, 1) OVER (ORDER BY day) AS p,
       |    LAG(u, 2) OVER (ORDER BY day) AS q
       |  FROM e2 QUALIFY q IS NOT NULL),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(u) AS HUGEINT) AS su, CAST(SUM(p) AS HUGEINT) AS sp,
       |    CAST(SUM(q) AS HUGEINT) AS sq,
       |    CAST(SUM(CAST(u AS HUGEINT) * u) AS HUGEINT) AS suu,
       |    CAST(SUM(CAST(p AS HUGEINT) * p) AS HUGEINT) AS spp,
       |    CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq,
       |    CAST(SUM(CAST(u AS HUGEINT) * p) AS HUGEINT) AS sup,
       |    CAST(SUM(CAST(u AS HUGEINT) * q) AS HUGEINT) AS suq,
       |    CAST(SUM(CAST(p AS HUGEINT) * q) AS HUGEINT) AS spq
       |  FROM l),
       |adj AS (
       |  SELECT *, CAST(n AS DOUBLE) AS nf,
       |    CAST(spp AS DOUBLE) * CAST(sqq AS DOUBLE)
       |      - CAST(spq AS DOUBLE) * CAST(spq AS DOUBLE) AS c00,
       |    -(CAST(sp AS DOUBLE) * CAST(sqq AS DOUBLE)
       |      - CAST(spq AS DOUBLE) * CAST(sq AS DOUBLE)) AS c01,
       |    CAST(sp AS DOUBLE) * CAST(spq AS DOUBLE)
       |      - CAST(spp AS DOUBLE) * CAST(sq AS DOUBLE) AS c02,
       |    CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
       |      - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) AS c11,
       |    -(CAST(n AS DOUBLE) * CAST(spq AS DOUBLE)
       |      - CAST(sp AS DOUBLE) * CAST(sq AS DOUBLE)) AS c12,
       |    CAST(n AS DOUBLE) * CAST(spp AS DOUBLE)
       |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) AS c22
       |  FROM m),
       |dt AS (
       |  SELECT *, nf * c00 + CAST(sp AS DOUBLE) * c01
       |    + CAST(sq AS DOUBLE) * c02 AS det
       |  FROM adj),
       |fin AS (
       |  SELECT *,
       |    CAST(suu AS DOUBLE)
       |      - ((c00 * CAST(su AS DOUBLE) + c01 * CAST(sup AS DOUBLE)
       |          + c02 * CAST(suq AS DOUBLE)) / det * CAST(su AS DOUBLE)
       |        + (c01 * CAST(su AS DOUBLE) + c11 * CAST(sup AS DOUBLE)
       |          + c12 * CAST(suq AS DOUBLE)) / det * CAST(sup AS DOUBLE)
       |        + (c02 * CAST(su AS DOUBLE) + c12 * CAST(sup AS DOUBLE)
       |          + c22 * CAST(suq AS DOUBLE)) / det * CAST(suq AS DOUBLE))
       |      AS rss,
       |    CAST(suu AS DOUBLE) - CAST(su AS DOUBLE)
       |      * CAST(su AS DOUBLE) / nf AS tss
       |  FROM dt)
       |SELECT CAST(n AS BIGINT) AS n_eff,
       |  CASE WHEN n < 5 OR det = 0 OR tss <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("(1.0 - rss / tss)", 6)} + 0 END
       |    AS aux_r2,
       |  CASE WHEN n < 5 OR det = 0 OR tss <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("nf * (1.0 - rss / tss)", 6)} + 0 END
       |    AS arch_lm,
       |  CASE WHEN n < 5 OR det = 0 OR tss <= 0 THEN NULL
       |    ELSE CAST(CASE WHEN nf * (1.0 - rss / tss) > 5.991
       |      THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
       |FROM fin""".stripMargin

  /** L270 Wald–Wolfowitz runs test ([PK] Wald & Wolfowitz 1940) on the
    * daily revenue series dichotomized at its MEAN: too few runs of
    * consecutive above/below-mean days ⇒ positive dependence (regime
    * persistence), too many ⇒ oscillation — the distribution-free
    * randomness screen beside q230's parametric Durbin–Watson and
    * q263's Cox–Stuart trend sign test on the same census.
    *
    * Parity: the dichotomy is an EXACT integer comparison (rev·n >
    * total — the mean never becomes a double); runs/n₁/n₂ are exact
    * ints; E[R], Var[R], z are one fixed double chain from exact ints,
    * 6dp.
    *
    * Scale: one fact-scan day rollup; a 1-row (n, total) broadcast
    * back onto the ~2,400-row census (q242 form), one lag window, one
    * count agg. */
  def q336RunsTest(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir).localCheckpoint(eager = false)
    val tot = d.agg(count(lit(1)).as("n"),
      sum(col("rev").cast(dec)).as("t"))
    val w = Window.orderBy("day")
    val signs = d.crossJoin(broadcast(tot))
      .select(col("day"), col("n"),
        (col("rev").cast(dec) * col("n") > col("t")).as("up"))
      .withColumn("chg",
        when(lag(col("up"), 1).over(w).isNull, 1L)
          .when(col("up") =!= lag(col("up"), 1).over(w), 1L)
          .otherwise(0L))
    val m = signs.agg(max(col("n")).as("n"),
      sum(when(col("up"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("up"), 0L).otherwise(1L)).as("n2"),
      sum(col("chg")).as("runs"))
    def f(c: String) = col(c).cast("double")
    val (n1, n2) = (f("n1"), f("n2"))
    val nn = n1 + n2
    val er = lit(2.0) * n1 * n2 / nn + 1.0
    val vr = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n1 - n2) /
      (nn * nn * (nn - 1.0))
    val z = (f("runs") - er) / sqrt(vr)
    val bad = col("n1") === 0L || col("n2") === 0L || col("n") < 20L
    m.select(col("n").cast("long").as("n_days"),
      col("n1").cast("long").as("n_above"),
      col("n2").cast("long").as("n_below"),
      col("runs").cast("long").as("n_runs"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(er,
        6)).as("e_runs"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(z, 6)).as("z"),
      when(bad, lit(null).cast("long"))
        .otherwise((abs(z) > 1.96).cast("long")).as("reject_5pct"))
  }

  val q336RunsTestSql: String =
    s"""WITH d AS ($dailySql),
       |tot AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS HUGEINT) AS t
       |  FROM d),
       |sg AS (
       |  SELECT day, n, CAST(rev AS HUGEINT) * n > t AS up
       |  FROM d CROSS JOIN tot),
       |ch AS (
       |  SELECT n, up,
       |    CASE WHEN LAG(up) OVER (ORDER BY day) IS NULL THEN 1
       |      WHEN up <> LAG(up) OVER (ORDER BY day) THEN 1
       |      ELSE 0 END AS chg
       |  FROM sg),
       |m AS (
       |  SELECT MAX(n) AS n,
       |    CAST(SUM(CASE WHEN up THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN up THEN 0 ELSE 1 END) AS BIGINT) AS n2,
       |    CAST(SUM(chg) AS BIGINT) AS runs
       |  FROM ch),
       |fin AS (
       |  SELECT *,
       |    CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) AS nn,
       |    2.0 * n1 * n2 / (CAST(n1 AS DOUBLE) + n2) + 1.0 AS er,
       |    2.0 * n1 * n2 * (2.0 * CAST(n1 AS DOUBLE) * n2 - n1 - n2)
       |      / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2)
       |        * (CAST(n1 AS DOUBLE) + n2 - 1.0)) AS vr
       |  FROM m)
       |SELECT CAST(n AS BIGINT) AS n_days, n1 AS n_above,
       |  n2 AS n_below, runs AS n_runs,
       |  CASE WHEN n1 = 0 OR n2 = 0 OR n < 20 THEN NULL
       |    ELSE ${Parity.fixSql("er", 6)} + 0 END AS e_runs,
       |  CASE WHEN n1 = 0 OR n2 = 0 OR n < 20 THEN NULL
       |    ELSE ${Parity.fixSql("(runs - er) / SQRT(vr)", 6)} + 0 END
       |    AS z,
       |  CASE WHEN n1 = 0 OR n2 = 0 OR n < 20 THEN NULL
       |    ELSE CAST(CASE WHEN ABS((runs - er) / SQRT(vr)) > 1.96
       |      THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
       |FROM fin""".stripMargin

  /** L271 variance-ratio random-walk test ([PK] Lo & MacKinlay 1988),
    * q = 5, on day-over-day revenue CHANGES: under a random walk the
    * variance of a 5-day change is 5× the 1-day variance, so
    * VR = σ²(5)/(5·σ²(1)) ≈ 1; VR < 1 ⇒ mean reversion, VR > 1 ⇒
    * trending. The homoscedastic z uses the overlapping-estimator
    * asymptotics z = (VR−1)/√(2(2q−1)(q−1)/(3qn)) — the multi-horizon
    * dependence screen beside q336's runs and q230's lag-1 DW.
    *
    * Both estimators on EXACT moments: d_t = rev_t − rev_{t−1} and
    * y_t = rev_t − rev_{t−5} are exact int64 lags of the census;
    * Σ(d−μ̂)² = (nΣd² − (Σd)²)/n and the overlapping
    * Σ(y−qμ̂)² = Σy² − 2qμ̂Σy + Mq²μ̂² expand to one fixed double
    * chain over exact DECIMAL sums (μ̂ enters as Σd/n, never a stored
    * double). Unbiased forms: σ²(1) uses n−1; σ²(q) uses Lo–MacKinlay's
    * m = q(n−q+1)(1−q/n). 6dp.
    *
    * Scale: one fact-scan day rollup, two lag windows over the
    * ~2,400-row census, ONE 6-moment aggregate — no broadcast, no
    * join. Consecutive means consecutive OBSERVED days (the census
    * has no gaps at fixture SFs; the q230/q263 convention). */
  def q337VarianceRatio(s: SparkSession, dir: String): DataFrame = {
    val q = 5
    val w = Window.orderBy("day")
    val l = daily(s, dir)
      .select(col("day"),
        (col("rev") - lag(col("rev"), 1).over(w)).as("dd"),
        (col("rev") - lag(col("rev"), q).over(w)).as("y"))
      .filter(col("dd").isNotNull)
    def d(c: String) = col(c).cast(dec)
    val m = l.agg(count(lit(1)).as("n"),
      sum(d("dd")).as("sd"), sum(d("dd") * d("dd")).as("sdd"),
      sum(when(col("y").isNotNull, 1L).otherwise(0L)).as("ny"),
      sum(d("y")).as("sy"), sum(d("y") * d("y")).as("syy"))
    def f(c: String) = col(c).cast("double")
    val (n, sd, sdd) = (f("n"), f("sd"), f("sdd"))
    val (sy, syy) = (f("sy"), f("syy"))
    val qd = q.toDouble
    val mu = sd / n
    val s1 = (n * sdd - sd * sd) / n / (n - 1.0)
    // constant subchains fold exactly (2·q = 10, 3·q = 15, the z
    // denominator's 2(2q−1)(q−1) = 72) — the SQL spells them unfolded;
    // IEEE arithmetic on small-integer doubles is exact either way
    val mDen = lit(qd) * (n - qd + 1.0) * (lit(1.0) - lit(qd) / n)
    val sq = (syy - lit(2.0 * qd) * mu * sy +
      f("ny") * qd * qd * mu * mu) / mDen
    // NO further /q: Lo–MacKinlay's m = q(n−q+1)(1−q/n) already
    // q-normalizes σ²(q) (an extra /q was caught by the iid-levels
    // sanity value: VR must sit near 1/q = 0.2 on a stationary series,
    // and measured 0.04 before the fix)
    val vrat = sq / s1
    val z = (vrat - 1.0) /
      sqrt(lit(2.0 * (2.0 * qd - 1.0) * (qd - 1.0)) / (lit(3.0 * qd) * n))
    val bad = col("n") < 30L || s1 <= 0.0
    // var_1 is O(rev²) ≈ 1e13 at sf0.1 — a 6dp quantization would
    // saturate the ×1e6 long cast (measured), so it reports WHOLE
    // units; vr/z are O(1) and keep 6dp
    val s1w = Parity.fix(s1, 0)
    m.select(col("n").cast("long").as("n_diffs"),
      lit(q.toLong).as("q"),
      when(bad, lit(null).cast("double")).otherwise(s1w).as("var_1"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(vrat,
        6)).as("vr"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(z, 6)).as("z"),
      when(bad, lit(null).cast("long"))
        .otherwise((abs(z) > 1.96).cast("long")).as("reject_5pct"))
  }

  val q337VarianceRatioSql: String =
    s"""WITH d AS ($dailySql),
       |l0 AS (
       |  SELECT rev - LAG(rev, 1) OVER (ORDER BY day) AS dd,
       |    rev - LAG(rev, 5) OVER (ORDER BY day) AS y
       |  FROM d),
       |l AS (SELECT * FROM l0 WHERE dd IS NOT NULL),
       |m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(dd) AS HUGEINT) AS sd,
       |    CAST(SUM(CAST(dd AS HUGEINT) * dd) AS HUGEINT) AS sdd,
       |    CAST(SUM(CASE WHEN y IS NOT NULL THEN 1 ELSE 0 END)
       |      AS BIGINT) AS ny,
       |    CAST(SUM(y) AS HUGEINT) AS sy,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
       |  FROM l),
       |fin AS (
       |  SELECT *,
       |    CAST(n AS DOUBLE) AS nf,
       |    CAST(sd AS DOUBLE) / n AS mu,
       |    (CAST(n AS DOUBLE) * CAST(sdd AS DOUBLE)
       |      - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE))
       |      / CAST(n AS DOUBLE) / (CAST(n AS DOUBLE) - 1.0) AS s1,
       |    5.0 * (CAST(n AS DOUBLE) - 5.0 + 1.0)
       |      * (1.0 - 5.0 / CAST(n AS DOUBLE)) AS mden
       |  FROM m),
       |fin2 AS (
       |  SELECT *,
       |    (CAST(syy AS DOUBLE) - 2.0 * 5.0 * mu * CAST(sy AS DOUBLE)
       |      + CAST(ny AS DOUBLE) * 5.0 * 5.0 * mu * mu) / mden
       |      / s1 AS vrat
       |  FROM fin)
       |SELECT CAST(n AS BIGINT) AS n_diffs, CAST(5 AS BIGINT) AS q,
       |  CASE WHEN n < 30 OR s1 <= 0 THEN NULL
       |    ELSE FLOOR(s1 + 0.5) + 0 END AS var_1,
       |  CASE WHEN n < 30 OR s1 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("vrat", 6)} + 0 END AS vr,
       |  CASE WHEN n < 30 OR s1 <= 0 THEN NULL
       |    ELSE ${Parity.fixSql("(vrat - 1.0) / SQRT(2.0 * (2.0 * 5.0 - 1.0)" +
                                 " * (5.0 - 1.0) / (3.0 * 5.0 * nf))", 6)}
       |      + 0
       |    END AS z,
       |  CASE WHEN n < 30 OR s1 <= 0 THEN NULL
       |    ELSE CAST(CASE WHEN ABS((vrat - 1.0) / SQRT(2.0
       |      * (2.0 * 5.0 - 1.0) * (5.0 - 1.0) / (3.0 * 5.0 * nf)))
       |      > 1.96 THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
       |FROM fin2""".stripMargin

  /** L272 Hurst exponent by rescaled-range analysis ([PK] Hurst 1951;
    * Mandelbrot & Wallis 1969): split the daily revenue series into
    * blocks of m ∈ {50, 100, 200} days, per block compute
    * R/S = (max cumulative deviation − min)/(population sd), average
    * per scale, and fit H as the slope of ln(mean R/S) on ln(m) —
    * H ≈ 0.5 for independent data, > 0.5 long-range persistence,
    * < 0.5 anti-persistence. The MULTI-SCALE memory screen beside
    * q337's fixed-q variance ratio and q275's fixed-lag Ljung–Box.
    *
    * Parity: within a block, m·cum_t − t·ΣX is an EXACT integer
    * (cumulative deviation × m — the mean never becomes a double), so
    * R = (max − min)/m and S = √(m·ΣX² − (ΣX)²)/m reduce to
    * R/S = (max − min)/√(m·ΣX² − (ΣX)²) — ONE double chain per block
    * from exact DECIMAL sums, nano-quantized BEFORE the per-scale
    * mean (q329 convention). The ln legs take EXACT INTEGER arguments
    * (ln Σrs9, ln(b·1e9), ln m — the q320 libm convention), each
    * nano-quantized; the 3-point slope is one double chain, 6dp.
    *
    * Scale: one fact-scan day rollup; ONE global row_number over the
    * scale-constant ~2,400-row census (the q205 "honest plan" note),
    * a ×3 scale explode, per-(m, block) windows — all census-bounded.
    * Partial tail blocks are dropped (cnt = m only). */
  def q338HurstRs(s: SparkSession, dir: String): DataFrame = {
    val scales = Seq(50, 100, 200)
    val rn = row_number().over(Window.orderBy("day"))
    val base = daily(s, dir).withColumn("rn", rn)
      .withColumn("m", explode(typedlit(scales)))
      .withColumn("blk", ((col("rn") - 1) / col("m")).cast("long"))
    val wb = Window.partitionBy("m", "blk").orderBy("rn")
    val wall = Window.partitionBy("m", "blk")
    def d(c: Column) = c.cast(dec)
    val dev = base
      .withColumn("cum", sum(d(col("rev"))).over(wb))
      .withColumn("t", row_number().over(wb))
      .withColumn("sb", sum(d(col("rev"))).over(wall))
      .withColumn("sxx", sum(d(col("rev")) * d(col("rev"))).over(wall))
      .withColumn("cnt", count(lit(1)).over(wall))
      .filter(col("cnt") === col("m"))
      .withColumn("dev", col("m") * col("cum") - col("t") * col("sb"))
    val blocks = dev.groupBy("m", "blk")
      .agg(max(col("dev")).as("mx"), min(col("dev")).as("mn"),
        max(col("sb")).as("sb"), max(col("sxx")).as("sxx"),
        max(col("rn")).as("mrn"))
    def f(c: Column) = c.cast("double")
    val rs = (f(col("mx")) - f(col("mn"))) /
      sqrt(f(col("m")) * f(col("sxx")) - f(col("sb")) * f(col("sb")))
    val perScale = blocks
      .withColumn("rs9", Parity.quant(rs, 1e9))
      .groupBy("m")
      .agg(count(lit(1)).as("b"), sum(col("rs9")).as("s9"),
        max(col("mrn")).as("mrn"))
      .withColumn("lx9",
        Parity.quant(log(col("m").cast("double")), 1e9))
      .withColumn("ly9",
        Parity.quant(log(col("s9").cast("double")), 1e9) -
          Parity.quant(log(col("b").cast("double") * 1e9), 1e9))
    def g(c: String) = col(c).cast("double")
    val mean6 = Parity.fix(g("s9") / (g("b") * 1e9), 6)
    // nano-scaled ln legs reach ~5e9, so their cross-products exceed
    // int64 — cast to DECIMAL BEFORE the multiply (a long×long product
    // would wrap silently). n_covered = the largest census index any
    // full block reaches (NOT the census length: tail partials drop).
    val fin = perScale
      .withColumn("rs_mean", mean6)
      .agg(max(col("mrn")).cast("long").as("n_covered"),
        count(lit(1)).as("k"),
        sum(when(col("m") === 50, col("rs_mean"))).as("rs_50"),
        sum(when(col("m") === 100, col("rs_mean"))).as("rs_100"),
        sum(when(col("m") === 200, col("rs_mean"))).as("rs_200"),
        sum(col("lx9").cast(dec)).as("sx"),
        sum(col("ly9").cast(dec)).as("sy"),
        sum(col("lx9").cast(dec) * col("ly9").cast(dec)).as("sxy"),
        sum(col("lx9").cast(dec) * col("lx9").cast(dec)).as("sxx"))
    val (k, sx, sy) = (g("k"), g("sx"), g("sy"))
    val slope = (k * g("sxy") - sx * sy) / (k * g("sxx") - sx * sx)
    fin.select(col("n_covered"), col("rs_50"), col("rs_100"),
      col("rs_200"),
      when(col("k") < 3L, lit(null).cast("double"))
        .otherwise(Parity.fix(slope, 6)).as("hurst"))
  }

  val q338HurstRsSql: String =
    s"""WITH d AS ($dailySql),
       |ix AS (
       |  SELECT rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM d),
       |e AS (
       |  SELECT rev, rn, unnest([50, 100, 200]) AS m FROM ix),
       |bw AS (
       |  SELECT m, (rn - 1) // m AS blk, rn, rev,
       |    SUM(CAST(rev AS HUGEINT)) OVER
       |      (PARTITION BY m, (rn - 1) // m ORDER BY rn) AS cum,
       |    ROW_NUMBER() OVER
       |      (PARTITION BY m, (rn - 1) // m ORDER BY rn) AS t,
       |    SUM(CAST(rev AS HUGEINT)) OVER
       |      (PARTITION BY m, (rn - 1) // m) AS sb,
       |    SUM(CAST(rev AS HUGEINT) * rev) OVER
       |      (PARTITION BY m, (rn - 1) // m) AS sxx,
       |    COUNT(*) OVER (PARTITION BY m, (rn - 1) // m) AS cnt
       |  FROM e),
       |blocks AS (
       |  SELECT m, blk,
       |    MAX(m * cum - t * sb) AS mx, MIN(m * cum - t * sb) AS mn,
       |    MAX(sb) AS sb, MAX(sxx) AS sxx, MAX(rn) AS mrn
       |  FROM bw WHERE cnt = m GROUP BY m, blk),
       |ps AS (
       |  SELECT m, COUNT(*) AS b,
       |    CAST(SUM(${Parity.quantSql("(CAST(mx AS DOUBLE) - CAST(mn AS DOUBLE))" +
                                       " / SQRT(CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)" +
                                       " - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))", 9)}
       |      ) AS BIGINT) AS s9,
       |    MAX(mrn) AS mrn
       |  FROM blocks GROUP BY m),
       |lg AS (
       |  SELECT m, b, s9, mrn,
       |    ${Parity.quantSql("LN(CAST(m AS DOUBLE))", 9)}
       |      AS lx9,
       |    ${Parity.quantSql("LN(CAST(s9 AS DOUBLE))", 9)}
       |    - ${Parity.quantSql("LN(CAST(b AS DOUBLE) * 1e9)", 9)} AS ly9,
       |    ${Parity.fixSql("CAST(s9 AS DOUBLE) / (CAST(b AS DOUBLE) * 1e9)", 6)}
       |      + 0 AS rs_mean
       |  FROM ps),
       |fin AS (
       |  SELECT CAST(MAX(mrn) AS BIGINT) AS n_covered, COUNT(*) AS k,
       |    SUM(CASE WHEN m = 50 THEN rs_mean END) AS rs_50,
       |    SUM(CASE WHEN m = 100 THEN rs_mean END) AS rs_100,
       |    SUM(CASE WHEN m = 200 THEN rs_mean END) AS rs_200,
       |    CAST(SUM(CAST(lx9 AS HUGEINT)) AS HUGEINT) AS sx,
       |    CAST(SUM(CAST(ly9 AS HUGEINT)) AS HUGEINT) AS sy,
       |    CAST(SUM(CAST(lx9 AS HUGEINT) * ly9) AS HUGEINT) AS sxy,
       |    CAST(SUM(CAST(lx9 AS HUGEINT) * lx9) AS HUGEINT) AS sxx
       |  FROM lg)
       |SELECT n_covered, rs_50, rs_100, rs_200,
       |  CASE WHEN k < 3 THEN NULL
       |    ELSE ${Parity.fixSql("(CAST(k AS DOUBLE) * CAST(sxy AS DOUBLE)" +
                                 " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))" +
                                 " / (CAST(k AS DOUBLE) * CAST(sxx AS DOUBLE)" +
                                 " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))", 6)}
       |      + 0 END AS hurst
       |FROM fin""".stripMargin

  /** L275 turning-points randomness test ([PK] Kendall & Stuart; the
    * classic "phase" test): count strict local maxima/minima of the
    * daily revenue series — under independence E[T] = 2(n−2)/3,
    * Var[T] = (16n−29)/90; too FEW turning points ⇒ trending/
    * persistence, too many ⇒ alternation. The third leg of the
    * distribution-free dependence triptych (q336 runs around the
    * mean, q337 multi-horizon variance, this one local shape).
    * Strictness makes ties (possible on int revenue) non-turning in
    * both engines — no sign-of-zero hazard.
    *
    * Parity: T is an exact int count from two lag/lead comparisons;
    * E/Var/z one fixed double chain from n, 6dp.
    *
    * Scale: day rollup + ONE lag/lead window over the ~2,400-row
    * census + one count agg. No join, no broadcast. */
  def q341TurningPoints(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val t = daily(s, dir)
      .select(col("day"), col("rev"),
        lag(col("rev"), 1).over(w).as("p"),
        lead(col("rev"), 1).over(w).as("f"))
      .filter(col("p").isNotNull && col("f").isNotNull)
      .select(((col("rev") > col("p") && col("rev") > col("f")) ||
        (col("rev") < col("p") && col("rev") < col("f")))
        .cast("long").as("turn"))
    val m = t.agg(count(lit(1)).as("ni"), sum(col("turn")).as("tp"))
    def f(c: String) = col(c).cast("double")
    val n = f("ni") + 2.0 // interior points = n - 2
    val et = lit(2.0) * (n - 2.0) / 3.0
    val vt = (lit(16.0) * n - 29.0) / 90.0
    val z = (f("tp") - et) / sqrt(vt)
    val bad = col("ni") < 20L
    m.select((col("ni") + 2L).cast("long").as("n_days"),
      col("tp").cast("long").as("n_turning"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(et,
        6)).as("e_turning"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(z, 6)).as("z"),
      when(bad, lit(null).cast("long"))
        .otherwise((abs(z) > 1.96).cast("long")).as("reject_5pct"))
  }

  val q341TurningPointsSql: String =
    s"""WITH d AS ($dailySql),
       |l0 AS (
       |  SELECT rev, LAG(rev) OVER (ORDER BY day) AS p,
       |    LEAD(rev) OVER (ORDER BY day) AS f
       |  FROM d),
       |t AS (
       |  SELECT CAST(CASE WHEN (rev > p AND rev > f)
       |      OR (rev < p AND rev < f) THEN 1 ELSE 0 END AS BIGINT)
       |    AS turn
       |  FROM l0 WHERE p IS NOT NULL AND f IS NOT NULL),
       |m AS (
       |  SELECT COUNT(*) AS ni, CAST(SUM(turn) AS BIGINT) AS tp FROM t),
       |fin AS (
       |  SELECT *, CAST(ni AS DOUBLE) + 2.0 AS n,
       |    2.0 * (CAST(ni AS DOUBLE) + 2.0 - 2.0) / 3.0 AS et,
       |    (16.0 * (CAST(ni AS DOUBLE) + 2.0) - 29.0) / 90.0 AS vt
       |  FROM m)
       |SELECT CAST(ni + 2 AS BIGINT) AS n_days, tp AS n_turning,
       |  CASE WHEN ni < 20 THEN NULL
       |    ELSE ${Parity.fixSql("et", 6)} + 0 END AS e_turning,
       |  CASE WHEN ni < 20 THEN NULL
       |    ELSE ${Parity.fixSql("(tp - et) / SQRT(vt)", 6)} + 0 END
       |    AS z,
       |  CASE WHEN ni < 20 THEN NULL
       |    ELSE CAST(CASE WHEN ABS((tp - et) / SQRT(vt)) > 1.96
       |      THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
       |FROM fin""".stripMargin

  /** L324 Theil's U inequality coefficients + MSE decomposition
    * *(added r17; [PK] Theil 1966 ch. 2)* — the forecast-quality
    * panel q278 (MAE/MASE/sMAPE) and q324 (Diebold–Mariano) leave
    * out: for the trailing-7-day-mean forecaster of daily revenue,
    * U1 (bounded [0,1] badness), U2 vs the naive persistence step
    * (U2 < 1 ⇔ the forecaster beats persistence), and Theil's
    * three-way MSE decomposition UM/US/UC (bias / variance-mismatch
    * / covariance shares, UM + US + UC = 1 — pinned in the spec):
    * the readout that says not just HOW wrong a forecaster is but
    * WHERE the error lives.
    *
    * Parity: the forecast is an exact integer (7-day window sum div
    * 7); all moments (Σf, Σa, Σf², Σa², Σfa, Σ(f−a)², Σ step²) are
    * exact int64/DECIMAL(38) sums; U1/U2/UM/US/UC are each one
    * identical double chain (sqrt is IEEE-exempt), 6dp.
    *
    * Scale: one fact-scan day rollup; the lag/window frames run over
    * the scale-constant day census (the q205 documented shape);
    * 1-row output. */
  def q389TheilU(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
    val wLag = Window.orderBy("day")
    val f = d
      .withColumn("prev", lag(col("rev"), 1).over(wLag))
      .withColumn("pos", row_number().over(wLag))
      .withColumn("fc", expr(
        "sum(rev) over (order by day rows between 7 preceding and 1 preceding) div 7"))
      .filter(col("pos") >= 8)
    val g = f.agg(count(lit(1)).as("n"),
      sum(col("fc").cast(dec)).as("sf"),
      sum(col("rev").cast(dec)).as("sa"),
      sum(col("fc").cast(dec) * col("fc").cast(dec)).as("sff"),
      sum(col("rev").cast(dec) * col("rev").cast(dec)).as("saa"),
      sum(col("fc").cast(dec) * col("rev").cast(dec)).as("sfa"),
      sum((col("fc") - col("rev")).cast(dec) *
        (col("fc") - col("rev")).cast(dec)).as("se2"),
      sum((col("prev") - col("rev")).cast(dec) *
        (col("prev") - col("rev")).cast(dec)).as("sp2"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    val (mf, ma) = (dd("sf") / n, dd("sa") / n)
    val vf = dd("sff") / n - mf * mf
    val va = dd("saa") / n - ma * ma
    val cov = dd("sfa") / n - mf * ma
    val mse = dd("se2") / n
    val (sdf, sda) = (sqrt(greatest(vf, lit(0.0))),
      sqrt(greatest(va, lit(0.0))))
    val u1 = sqrt(mse) /
      greatest(sqrt(dd("saa") / n) + sqrt(dd("sff") / n), lit(1e-300))
    val u2 = sqrt(dd("se2") / greatest(dd("sp2"), lit(1e-300)))
    val um = (mf - ma) * (mf - ma) / greatest(mse, lit(1e-300))
    val us = (sdf - sda) * (sdf - sda) / greatest(mse, lit(1e-300))
    val uc = lit(2.0) * (lit(1.0) - cov / greatest(sdf * sda, lit(1e-300))) *
      sdf * sda / greatest(mse, lit(1e-300))
    g.select(col("n").as("n_days"), Parity.fix(u1, 6).as("u1"),
      Parity.fix(u2, 6).as("u2"),
      Parity.fix(um, 6).as("um_bias"), Parity.fix(us, 6).as("us_variance"),
      Parity.fix(uc, 6).as("uc_covariance"),
      (u2 < 1.0).cast("long").as("beats_persistence"))
  }

  val q389TheilUSql: String =
    s"""WITH d AS ($dailySql),
       |f0 AS (
       |  SELECT day, rev,
       |    LAG(rev, 1) OVER (ORDER BY day) AS prev,
       |    ROW_NUMBER() OVER (ORDER BY day) AS pos,
       |    CAST(SUM(rev) OVER (ORDER BY day
       |      ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING) AS BIGINT) // 7
       |      AS fc
       |  FROM d),
       |f AS (SELECT * FROM f0 WHERE pos >= 8),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(fc AS HUGEINT)) AS HUGEINT) AS sf,
       |    CAST(SUM(CAST(rev AS HUGEINT)) AS HUGEINT) AS sa,
       |    CAST(SUM(CAST(fc AS HUGEINT) * fc) AS HUGEINT) AS sff,
       |    CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS saa,
       |    CAST(SUM(CAST(fc AS HUGEINT) * rev) AS HUGEINT) AS sfa,
       |    CAST(SUM(CAST(fc - rev AS HUGEINT) * (fc - rev)) AS HUGEINT)
       |      AS se2,
       |    CAST(SUM(CAST(prev - rev AS HUGEINT) * (prev - rev))
       |      AS HUGEINT) AS sp2
       |  FROM f),
       |z AS (
       |  SELECT n,
       |    CAST(sf AS DOUBLE) / n AS mf, CAST(sa AS DOUBLE) / n AS ma,
       |    CAST(sff AS DOUBLE) / n AS mff, CAST(saa AS DOUBLE) / n AS maa,
       |    CAST(sfa AS DOUBLE) / n AS mfa,
       |    CAST(se2 AS DOUBLE) / n AS mse,
       |    CAST(se2 AS DOUBLE) AS e2, CAST(sp2 AS DOUBLE) AS p2
       |  FROM g),
       |z2 AS (
       |  SELECT n, mse, e2, p2, mf, ma,
       |    SQRT(GREATEST(mff - mf * mf, 0.0)) AS sdf,
       |    SQRT(GREATEST(maa - ma * ma, 0.0)) AS sda,
       |    mfa - mf * ma AS cov,
       |    SQRT(mse) / GREATEST(SQRT(maa) + SQRT(mff), 1e-300) AS u1
       |  FROM z)
       |SELECT CAST(n AS BIGINT) AS n_days,
       |  ${Parity.fixSql("u1", 6)} + 0 AS u1,
       |  ${Parity.fixSql("SQRT(e2 / GREATEST(p2, 1e-300))", 6)} + 0
       |    AS u2,
       |  ${Parity.fixSql("(mf - ma) * (mf - ma) / GREATEST(mse, 1e-300)", 6)}
       |    + 0 AS um_bias,
       |  ${Parity.fixSql("(sdf - sda) * (sdf - sda) / GREATEST(mse, 1e-300)", 6)}
       |    + 0 AS us_variance,
       |  ${Parity.fixSql("2.0 * (1.0 - cov / GREATEST(sdf * sda, 1e-300)) * sdf * sda" +
                          " / GREATEST(mse, 1e-300)", 6)}
       |    + 0
       |    AS uc_covariance,
       |  CAST(CASE WHEN SQRT(e2 / GREATEST(p2, 1e-300)) < 1.0
       |    THEN 1 ELSE 0 END AS BIGINT) AS beats_persistence
       |FROM z2""".stripMargin
}
