package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Time-series robustness statistics over the daily order-revenue
  * series (L139–L141): exact rolling median (outlier-immune smoothing,
  * the robust counterpart to q115's EWMA / q143's Holt), Theil–Sen
  * slope (the robust trend estimate — median of all pairwise slopes,
  * 29.3% breakdown point vs least-squares' zero), and the exact
  * autocorrelation function (seasonality detection, the dependence
  * diagnostic behind every forecasting model choice).
  *
  * Shared base: one `orders` scan → per-day int64 revenue sums (whole
  * dollars — exact, and products of two daily values stay far inside
  * int64; cross-engine sums that could exceed int64 at sf ≫ 1 ride
  * DECIMAL(38,0)). The fixture's date range is fixed (~2,400 days at
  * every SF), so the day-level series — and therefore q206's pairwise
  * O(days²) and q208's lag joins — are CONSTANT in scale factor: only
  * the one map-side day aggregation grows with the data.
  *
  * Parity discipline: every ordering/median decision happens on exact
  * integers (or on doubles produced by one identical chain with exact
  * int tie-breaks); float division appears only in final displayed
  * values.
  */
object SeriesStats {

  /** (day date, rev int64 whole dollars) — the shared series.
    * [[dailySql]] is its oracle twin; the two change together. */
  private[ops] def daily(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") + 0.5).cast("long")).as("rev"))

  private[ops] val dailySql: String =
    """SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1""".stripMargin

  /** The lag stack of the ACF family: column `x` lagged k rows on
    * `frame` for every k in `lags` (all lags on one window sort, named
    * `x<k>`), unpivoted by `stack` into rows (`y`, `lag`, `x`),
    * where `y` is the unlagged column `y`. Rows whose lag reaches before
    * the series starts (null `x`) are dropped. */
  private[ops] def lagStack(d: DataFrame, frame: WindowSpec, y: String,
      x: String, lags: Range): DataFrame = {
    val withLags = d.select((col(y) +: lags.map(k =>
      lag(col(x), k).over(frame).as(s"x$k"))): _*)
    val stackExpr = lags.map(k => s"${k}L, x$k")
      .mkString(s"stack(${lags.size}, ", ", ", ")")
    withLags.select(col(y).as("y"), expr(s"$stackExpr as (lag, x)"))
      .filter(col("x").isNotNull)
  }

  /** The bivariate moment sums `sx, sy, sxy, sxx, syy` of columns `x`
    * and `y`, for an `agg` beside the caller's own count (q208, q213,
    * q219, q270, q273). Each factor is cast to DECIMAL(38,0) BEFORE it
    * multiplies: a daily total past ~$3B would overflow an int64
    * product, and (38,0)×(38,0) stays exact for any value that fits 38
    * digits. [[pairSumsSql]] is its oracle twin; the two change
    * together. */
  private[ops] val pairSums: Seq[Column] = Seq(
    sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
    sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
    sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
    sum(col("y").cast(dec) * col("y").cast(dec)).as("syy"))

  /** The oracle twin of [[pairSums]], as a select list; the two change
    * together. */
  private[ops] val pairSumsSql: String =
    """CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
      |    CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
      |    CAST(SUM(x * y) AS DECIMAL(38,0)) AS sxy,
      |    CAST(SUM(x * x) AS DECIMAL(38,0)) AS sxx,
      |    CAST(SUM(y * y) AS DECIMAL(38,0)) AS syy""".stripMargin

  /** A day series indexed by `t`, whole days since 1995-01-01 as
    * int64, first, in place of its `day` date; the frame's other
    * columns follow in order. [[dayIndexedSql]] is its oracle twin; the
    * two change together. */
  private[ops] def dayIndexed(d: DataFrame): DataFrame =
    d.select(datediff(col("day"), lit("1995-01-01")).cast("long").as("t") +:
      d.columns.filter(_ != "day").map(col): _*)

  /** The oracle twin of [[dayIndexed]] over relation `rel`; the two
    * change together. */
  private[ops] def dayIndexedSql(rel: String): String =
    "SELECT CAST(date_diff('day', DATE '1995-01-01', day) AS BIGINT) AS t," +
      s" * EXCLUDE (day) FROM $rel"

  /** The trailing 365 days of a day-indexed frame: the rows whose `t`
    * lies within 365 of the frame's maximum `t`, kept with that `tmax`.
    * The maximum is a one-row aggregate broadcast back in-plan, so no
    * driver action runs at DataFrame-build time. [[trailingYearSql]]
    * is its oracle twin; the two change together. */
  private[ops] def trailingYear(d: DataFrame, t: String = "t"): DataFrame =
    d.crossJoin(broadcast(d.agg(max(col(t)).as("tmax"))))
      .filter(col(t) > col("tmax") - 365)

  /** `FROM rel WHERE t > MAX(t) - 365` — the oracle twin of
    * [[trailingYear]]; the two change together. */
  private[ops] def trailingYearSql(rel: String, t: String = "t"): String =
    s"FROM $rel WHERE $t > (SELECT MAX($t) FROM $rel) - 365"

  /** L139 exact rolling median: 7-day (6 preceding + current) median of
    * daily revenue. Implemented as collect_list over the row frame +
    * sort_array + exact middle selection — k is a small constant, so
    * the per-row cost is O(k log k) inside one keyed window pass, and
    * the even-count case averages the two int64 middles exactly like
    * DuckDB's interpolating median ((a+b)/2 in double — exact for
    * values < 2⁵²). */
  def q205RollingMedian(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    // single global series (~2,400 rows) — the one place a
    // non-partitioned window is the honest plan; at fact scale the same
    // op runs per key (q115's shape) or through RangedNtile machinery
    daily(s, dir)
      .withColumn("ws", sort_array(collect_list(col("rev")).over(w)))
      .withColumn("k", size(col("ws")))
      .select(col("day"), col("rev"),
        when(col("k") % 2 === 1,
          element_at(col("ws"),
            expr("cast((k + 1) div 2 as int)")).cast("double"))
          .otherwise(
            (element_at(col("ws"), expr("cast(k div 2 as int)")) +
              element_at(col("ws"), expr("cast(k div 2 + 1 as int)"))) / 2.0)
          .as("med7"))
      .orderBy("day")
  }

  val q205RollingMedianSql: String =
    s"""WITH d AS ($dailySql)
       |SELECT day, rev,
       |  median(rev) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING
       |    AND CURRENT ROW) AS med7
       |FROM d ORDER BY day""".stripMargin

  /** L140 Theil–Sen slope over the trailing 365 days: the median of
    * all C(365, 2) ≈ 66k pairwise slopes (dy/dx, dollars per day) —
    * the robust trend line (Theil 1950, Sen 1968 [PK], 29.3% breakdown
    * vs least-squares' 0%). Pair slopes are one double division of two
    * exact ints; the median rank is decided on (slope, dy, dx) — the
    * int tie-break keeps the order identical across engines even where
    * two distinct rationals collide in double. The 365-day window
    * bounds the pair build to a scale-CONSTANT 66k rows (localCheck-
    * pointed so the one all-pairs join materializes once and the
    * rank/count consumers read the cut); the only SF-growing stage is
    * the day aggregation. */
  def q206TheilSen(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily(s, dir))
    val recent = trailingYear(d).select(col("t"), col("rev"))
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")), col("a.t") < col("b.t"))
      .select((col("b.rev") - col("a.rev")).as("dy"),
        (col("b.t") - col("a.t")).as("dx"))
      .withColumn("slope",
        col("dy").cast("double") / col("dx").cast("double"))
      // LAZY: plan-only consumers (Plans.scala, PlanShapeSpec) must not
      // execute the pair build at DataFrame-construction time, and the
      // block still materializes once on first action (Triangles rule).
      .localCheckpoint(eager = false)
    val w = Window.orderBy(col("slope"), col("dy"), col("dx"))
    pairs
      .withColumn("rn", row_number().over(w))
      .crossJoin(broadcast(pairs.agg(count(lit(1)).as("n"))))
      .filter(
        when(col("n") % 2 === 1, col("rn") === (col("n") + 1) / 2)
          .otherwise(col("rn") === col("n") / 2 ||
            col("rn") === col("n") / 2 + 1))
      .agg(max(col("n")).as("n_pairs"),
        (round(avg(col("slope")), 6) + 0.0).as("sen_slope"))
  }

  val q206TheilSenSql: String =
    s"""WITH d AS ($dailySql),
       |dd AS (${dayIndexedSql("d")}),
       |rc AS (SELECT t, rev ${trailingYearSql("dd")}),
       |p AS (
       |  SELECT b.rev - a.rev AS dy, b.t - a.t AS dx,
       |    CAST(b.rev - a.rev AS DOUBLE) / CAST(b.t - a.t AS DOUBLE)
       |      AS slope
       |  FROM rc a JOIN rc b ON a.t < b.t),
       |r AS (
       |  SELECT slope,
       |    ROW_NUMBER() OVER (ORDER BY slope, dy, dx) AS rn,
       |    COUNT(*) OVER () AS n
       |  FROM p)
       |SELECT MAX(n) AS n_pairs, ROUND(AVG(slope), 6) + 0 AS sen_slope
       |FROM r
       |WHERE CASE WHEN n % 2 = 1 THEN rn = (n + 1) // 2
       |  ELSE rn = n // 2 OR rn = n // 2 + 1 END""".stripMargin

  /** L141 exact autocorrelation function, lags 1–7: Pearson r of the
    * daily series against itself shifted k days (missing days make
    * pairs by ROW shift — lag over the day-ordered series, the
    * convention statsmodels' acf(adjusted) matches for gapless daily
    * data). The five moment sums ride DECIMAL(38,0) end-to-end — terms
    * are cast BEFORE multiplying, so neither the per-term product nor
    * the sum can overflow while values fit 38 digits — and the r chain
    * is one identical double expression on both engines, 6dp
    * displayed. Lag shifts are row windows over the scale-constant
    * series. */
  def q208Acf(s: SparkSession, dir: String): DataFrame = {
    // all 7 lags share ONE window spec → one sort, one exchange (the
    // per-lag union form paid 7 re-sorts); stack unpivots to rows
    val lags =
      lagStack(daily(s, dir), Window.orderBy("day"), "rev", "rev", 1 to 7)
    lags.groupBy("lag")
      .agg(count(lit(1)).as("n"), pairSums: _*)
      .select(col("lag"), col("n"),
        // fuzz hardening (r12): a single-pair lag or constant series
        // zeroes a variance factor — correlation undefined, not a crash
        when(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") <= 0 ||
            col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double") <= 0,
          lit(null).cast("double"))
        .otherwise(round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
          + 0.0).as("acf"))
      .orderBy("lag")
  }

  /** (day, rev int64, cnt int64) — the two-series daily base for the
    * dependence diagnostics (q211/q213). [[daily2Sql]] is its oracle
    * twin; the two change together. */
  private[ops] def daily2(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") + 0.5).cast("long")).as("rev"),
        count(lit(1)).as("cnt"))

  private[ops] val daily2Sql: String =
    """SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
      |      AS rev,
      |    COUNT(*) AS cnt
      |  FROM orders GROUP BY 1""".stripMargin

  /** L143 Kendall rank correlation (τ-b) between daily revenue and
    * daily order count over the trailing 365 days — the robust
    * dependence measure (Kendall 1938 [PK]; Spearman q177's rank-ρ
    * cousin, but defined directly on concordant/discordant PAIRS, so
    * ties get the exact τ-b correction instead of a rank fudge).
    *
    * Every count is an exact integer decided by int64 sign tests
    * (dx·dy products of bounded daily values — no float enters until
    * the final τ); n₁ = Σ C(tx,2) and n₂ = Σ C(ty,2) fall out of the
    * pair build as the x-tied / y-tied pair counts, no separate tie
    * census needed. τ-b = (nc − nd)/√((n0 − n1)(n0 − n2)) is one
    * identical double chain, 6dp.
    *
    * Scale: the q206 shape — the C(365,2) ≈ 66k pair build is CONSTANT
    * in SF (the date range is fixture-fixed); only the day aggregation
    * scans fact data. The pair BNLJ sits under the same LAZY
    * localCheckpoint as q206's (no job at plan-build time), so the one
    * visible plan is a single exact aggregate. */
  def q211KendallTau(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily2(s, dir))
    val recent = trailingYear(d).select(col("t"), col("rev"), col("cnt"))
    val pairs = recent.as("a")
      .join(broadcast(recent.as("b")), col("a.t") < col("b.t"))
      .select((col("b.rev") - col("a.rev")).as("dx"),
        (col("b.cnt") - col("a.cnt")).as("dy"))
      .localCheckpoint(eager = false)
    val agg = pairs.agg(
      count(lit(1)).as("n0"),
      sum(when(col("dx") * col("dy") > 0, 1L).otherwise(0L)).as("nc"),
      sum(when(col("dx") * col("dy") < 0, 1L).otherwise(0L)).as("nd"),
      sum(when(col("dx") === 0, 1L).otherwise(0L)).as("ties_x"),
      sum(when(col("dy") === 0, 1L).otherwise(0L)).as("ties_y"))
    // fuzz hardening (r12): a window where one variable is ALL ties
    // zeroes a denominator factor — tau-b undefined, not a crash
    agg.select(col("n0").as("n_pairs"), col("nc"), col("nd"),
      col("ties_x"), col("ties_y"),
      when(col("n0") - col("ties_x") === 0 ||
          col("n0") - col("ties_y") === 0, lit(null).cast("double"))
        .otherwise(round((col("nc") - col("nd")).cast("double") /
          sqrt((col("n0") - col("ties_x")).cast("double") *
            (col("n0") - col("ties_y")).cast("double")), 6) + 0.0)
        .as("tau_b"))
  }

  val q211KendallTauSql: String =
    s"""WITH d AS ($daily2Sql),
       |dd AS (${dayIndexedSql("d")}),
       |rc AS (SELECT t, rev, cnt ${trailingYearSql("dd")}),
       |p AS (
       |  SELECT b.rev - a.rev AS dx, b.cnt - a.cnt AS dy
       |  FROM rc a JOIN rc b ON a.t < b.t),
       |g AS (
       |  SELECT COUNT(*) AS n0,
       |    CAST(SUM(CASE WHEN dx * dy > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
       |    CAST(SUM(CASE WHEN dx * dy < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd,
       |    CAST(SUM(CASE WHEN dx = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_x,
       |    CAST(SUM(CASE WHEN dy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ties_y
       |  FROM p)
       |SELECT n0 AS n_pairs, nc, nd, ties_x, ties_y,
       |  CASE WHEN n0 - ties_x = 0 OR n0 - ties_y = 0 THEN NULL ELSE
       |    ROUND(CAST(nc - nd AS DOUBLE) /
       |      SQRT(CAST(n0 - ties_x AS DOUBLE) * CAST(n0 - ties_y AS DOUBLE)),
       |      6) + 0 END AS tau_b
       |FROM g""".stripMargin

  /** L144 day-of-week seasonal profile: the multiplicative seasonal
    * index (dow mean ÷ grand mean) over the daily revenue series — the
    * first factor of every classical seasonal decomposition, and the
    * denominator a seasonal-adjustment divides by. ISO day numbering
    * (1 = Monday) on both engines.
    *
    * Parity: per-dow sums and counts are exact int64; mean and index
    * are single double chains (4dp / 6dp). The grand totals ride a
    * window over the ≤7-row census, never a second fact scan.
    *
    * Scale: one map-side-combinable day agg (the q205 base) → ≤7-group
    * census; everything downstream is census-sized. */
  def q212DowSeasonality(s: SparkSession, dir: String): DataFrame = {
    val g = daily(s, dir)
      .select((weekday(col("day")) + 1).as("isodow"), col("rev"))
      .groupBy("isodow")
      .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("sr"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    g.withColumn("tot_sr", sum(col("sr")).over(w))
      .withColumn("tot_n", sum(col("n_days")).over(w))
      .select(col("isodow"), col("n_days"),
        (round(col("sr").cast("double") / col("n_days"), 4) + 0.0)
          .as("mean_rev"),
        (round((col("sr").cast("double") / col("n_days")) /
          (col("tot_sr").cast("double") / col("tot_n")), 6) + 0.0)
          .as("seasonal_idx"))
      .orderBy("isodow")
  }

  val q212DowSeasonalitySql: String =
    s"""WITH d AS ($dailySql),
       |g AS (
       |  SELECT CAST(date_part('isodow', day) AS INT) AS isodow,
       |    COUNT(*) AS n_days,
       |    CAST(SUM(rev) AS BIGINT) AS sr
       |  FROM d GROUP BY 1)
       |SELECT isodow, n_days,
       |  ROUND(CAST(sr AS DOUBLE) / n_days, 4) + 0 AS mean_rev,
       |  ROUND((CAST(sr AS DOUBLE) / n_days) /
       |    (CAST(SUM(sr) OVER () AS DOUBLE) / SUM(n_days) OVER ()), 6) + 0
       |    AS seasonal_idx
       |FROM g ORDER BY isodow""".stripMargin

  /** L145 cross-correlation function, lags 0–7: Pearson r of daily
    * revenue against the daily ORDER COUNT shifted k days — the
    * lead/lag dependence between two series (does volume lead
    * revenue?), the two-series generalization of q208's ACF and the
    * diagnostic behind transfer-function / leading-indicator models.
    * Same parity discipline as q208: all five moment sums ride
    * DECIMAL(38,0) with casts BEFORE the multiply, one identical
    * double r chain, 6dp. Lag shifts are row windows over the
    * scale-constant day series; all 8 lags share one window sort. */
  def q213CrossCorr(s: SparkSession, dir: String): DataFrame = {
    val lags =
      lagStack(daily2(s, dir), Window.orderBy("day"), "rev", "cnt", 0 to 7)
    lags.groupBy("lag")
      .agg(count(lit(1)).as("n"), pairSums: _*)
      .select(col("lag"), col("n"),
        // fuzz hardening (r12): a single-pair lag or constant series
        // zeroes a variance factor — correlation undefined, not a crash
        when(col("n").cast("double") * col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") <= 0 ||
            col("n").cast("double") * col("syy").cast("double") -
            col("sy").cast("double") * col("sy").cast("double") <= 0,
          lit(null).cast("double"))
        .otherwise(round(
          (col("n").cast("double") * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
            (sqrt(col("n").cast("double") * col("sxx").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
              sqrt(col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 6)
          + 0.0).as("ccf"))
      .orderBy("lag")
  }

  val q213CrossCorrSql: String =
    s"""WITH d AS ($daily2Sql),
       |lg AS (
       |  SELECT k.lag, LAG(cnt, k.lag) OVER (PARTITION BY k.lag
       |      ORDER BY day) AS x, rev AS y
       |  FROM d CROSS JOIN (SELECT unnest(range(0, 8)) AS lag) k),
       |m AS (
       |  SELECT lag, COUNT(*) AS n,
       |    $pairSumsSql
       |  FROM lg WHERE x IS NOT NULL GROUP BY lag)
       |SELECT lag, n,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
       |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0 THEN NULL
       |  ELSE ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0 END
       |    AS ccf
       |FROM m ORDER BY lag""".stripMargin

  /** L153 partial autocorrelation (PACF), lags 1–3, via the
    * Durbin–Levinson recursion [PK: Durbin 1960] applied to the q208
    * lag-Pearson ACF values: φ₁₁ = r₁; φ₂₂ = (r₂−r₁²)/(1−r₁²);
    * φ₃₃ from the level-2 coefficients — the AR-order diagnostic (an
    * AR(p) series cuts off after lag p) that complements q208's raw
    * dependence readout.
    *
    * Parity: the rₖ are the same DECIMAL(38,0)-moment double chains as
    * q208 (UNROUNDED — rounding first would feed the recursion
    * different inputs than the classical definition); the recursion is
    * a fixed unrolled double chain, identical text on both engines,
    * 6dp displayed. Scale: identical cost to q208 — one shared window
    * sort over the scale-constant day series, ≤3-row census algebra. */
  def q219Pacf(s: SparkSession, dir: String): DataFrame = {
    val lags =
      lagStack(daily(s, dir), Window.orderBy("day"), "rev", "rev", 1 to 3)
    val m = lags.groupBy("lag")
      .agg(count(lit(1)).as("n"), pairSums: _*)
    val r = (col("n").cast("double") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      (sqrt(col("n").cast("double") * col("sxx").cast("double") -
        col("sx").cast("double") * col("sx").cast("double")) *
        sqrt(col("n").cast("double") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")))
    val piv = m.withColumn("r", r).agg(
      max(when(col("lag") === 1, col("r"))).as("r1"),
      max(when(col("lag") === 2, col("r"))).as("r2"),
      max(when(col("lag") === 3, col("r"))).as("r3"))
    val p = piv
      .withColumn("p22",
        (col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1")))
      .withColumn("p21", col("r1") - col("p22") * col("r1"))
      .withColumn("p33",
        (col("r3") - col("p21") * col("r2") - col("p22") * col("r1")) /
          (lit(1.0) - col("p21") * col("r1") - col("p22") * col("r2")))
    p.select(expr("""stack(3,
        |  1, round(r1, 6) + 0.0d,
        |  2, round(p22, 6) + 0.0d,
        |  3, round(p33, 6) + 0.0d) as (lag, pacf)""".stripMargin))
      .orderBy("lag")
  }

  val q219PacfSql: String =
    s"""WITH d AS ($dailySql),
       |lg AS (
       |  SELECT k.lag, LAG(rev, k.lag) OVER (PARTITION BY k.lag
       |      ORDER BY day) AS x, rev AS y
       |  FROM d CROSS JOIN (SELECT unnest(range(1, 4)) AS lag) k),
       |m AS (
       |  SELECT lag, COUNT(*) AS n,
       |    $pairSumsSql
       |  FROM lg WHERE x IS NOT NULL GROUP BY lag),
       |rr AS (
       |  SELECT lag,
       |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r
       |  FROM m),
       |piv AS (
       |  SELECT MAX(CASE WHEN lag = 1 THEN r END) AS r1,
       |    MAX(CASE WHEN lag = 2 THEN r END) AS r2,
       |    MAX(CASE WHEN lag = 3 THEN r END) AS r3
       |  FROM rr),
       |dl AS (
       |  SELECT r1, r2, r3,
       |    (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
       |  FROM piv),
       |dl2 AS (
       |  SELECT r1, r2, r3, p22, r1 - p22 * r1 AS p21 FROM dl),
       |dl3 AS (
       |  SELECT r1, p22,
       |    (r3 - p21 * r2 - p22 * r1)
       |      / (1.0 - p21 * r1 - p22 * r2) AS p33
       |  FROM dl2)
       |SELECT lag, pacf FROM (
       |  SELECT 1 AS lag, ROUND(r1, 6) + 0 AS pacf FROM dl3
       |  UNION ALL SELECT 2, ROUND(p22, 6) + 0 FROM dl3
       |  UNION ALL SELECT 3, ROUND(p33, 6) + 0 FROM dl3)
       |ORDER BY lag""".stripMargin

  /** L164 Durbin–Watson statistic (Durbin & Watson 1950 [PK]) on the
    * seasonally-adjusted daily revenue series: residuals e_t = rev_t −
    * dow-mean(rev) (the q212 seasonal factor removed), DW =
    * Σ(e_t−e_{t−1})²/Σe_t² — the serial-correlation diagnostic (DW ≈ 2
    * ⇒ independent residuals; → 0 positive, → 4 negative
    * autocorrelation) that says whether q208's raw-series dependence
    * survives deseasonalizing.
    *
    * Parity: residuals are pinned to int64 micro-units by one
    * identical double chain (rev − Σdow/ndow is a rational; the 1e6
    * quantum is the q196 class), so both quadratic sums ride
    * DECIMAL(38,0)/HUGEINT exactly; DW is one double division, 4dp.
    *
    * Scale: day agg → ≤7-row dow census broadcast back → one lag
    * window over the scale-constant series. */
  def q230DurbinWatson(s: SparkSession, dir: String): DataFrame = {
    val d = daily(s, dir)
      .select(col("day"), col("rev"), (weekday(col("day")) + 1).as("dw"))
    val seas = d.groupBy("dw")
      .agg(sum(col("rev")).as("sr"), count(lit(1)).as("nd"))
    val e = d.join(broadcast(seas), "dw")
      .select(col("day"),
        Parity.quant(col("rev").cast("double") - col("sr").cast("double") /
          col("nd"), 1e6).as("eq"))
    val w = Window.orderBy("day")
    val lagd = e.withColumn("ep", lag(col("eq"), 1).over(w))
    lagd.agg(
        count(lit(1)).as("n_days"),
        sum(col("eq").cast(dec) * col("eq").cast(dec)).as("see"),
        sum(when(col("ep").isNotNull,
          (col("eq") - col("ep")).cast(dec) * (col("eq") - col("ep")).cast(dec))
          .otherwise(lit(0L).cast(dec))).as("sdd"))
      .select(col("n_days"),
        (round(col("sdd").cast("double") / col("see").cast("double"), 4)
          + 0.0).as("dw_stat"))
  }

  val q230DurbinWatsonSql: String =
    s"""WITH d AS ($dailySql),
       |dd AS (
       |  SELECT day, rev, CAST(date_part('isodow', day) AS INT) AS dw
       |  FROM d),
       |seas AS (
       |  SELECT dw, CAST(SUM(rev) AS BIGINT) AS sr, COUNT(*) AS nd
       |  FROM dd GROUP BY dw),
       |e AS (
       |  SELECT day,
       |    ${Parity.quantSql("(CAST(rev AS DOUBLE) - CAST(sr AS DOUBLE) / nd)", 6)} AS eq
       |  FROM dd JOIN seas USING (dw)),
       |lagd AS (
       |  SELECT eq, LAG(eq, 1) OVER (ORDER BY day) AS ep FROM e),
       |g AS (
       |  SELECT COUNT(*) AS n_days,
       |    SUM(CAST(eq AS HUGEINT) * eq) AS see,
       |    SUM(CASE WHEN ep IS NOT NULL
       |      THEN CAST(eq - ep AS HUGEINT) * (eq - ep)
       |      ELSE 0 END) AS sdd
       |  FROM lagd)
       |SELECT n_days,
       |  ROUND(CAST(sdd AS DOUBLE) / CAST(see AS DOUBLE), 4) + 0 AS dw_stat
       |FROM g""".stripMargin

  val q208AcfSql: String =
    s"""WITH d AS ($dailySql),
       |lg AS (
       |  SELECT k.lag, LAG(rev, k.lag) OVER (PARTITION BY k.lag
       |      ORDER BY day) AS x, rev AS y
       |  FROM d CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) k),
       |m AS (
       |  SELECT lag, COUNT(*) AS n,
       |    $pairSumsSql
       |  FROM lg WHERE x IS NOT NULL GROUP BY lag)
       |SELECT lag, n,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
       |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0 THEN NULL
       |  ELSE ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |    / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |      * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) + 0 END
       |    AS acf
       |FROM m ORDER BY lag""".stripMargin

  /** L338 Hoeffding's D dependence test *(added r18; [PK] Hoeffding
    * 1948; Hollander & Wolfe §8.6)* — the dependence measure the
    * rank-correlation family (q177 ρ, q211 τ-b, q251 γ) is BLIND to:
    * D estimates ∫(F_xy − F_x·F_y)² and detects NON-monotone
    * association (a U-shape has τ ≈ 0 but D > 0), the readout that
    * decides whether "uncorrelated" actually means "independent" on
    * q211's trailing-365-day (revenue, order count) frame.
    *
    * Tie convention (pinned, the q371 discipline): ranks are made
    * STRICT by the lexicographic (value, day) jitter — R_i/S_i are
    * ROW_NUMBERs over (rev, day)/(cnt, day), and Q_i counts strict
    * dominance in BOTH jittered orders; D is then the exact classical
    * no-ties statistic of the jittered sample, identical cross-engine
    * (no midrank doubles anywhere).
    *
    * Parity: R, S, Q, and the three Hollander–Wolfe sums D1 = ΣQ(Q−1),
    * D2 = Σ(R−1)(R−2)(S−1)(S−2), D3 = Σ(R−2)(S−2)Q are ALL exact
    * int64/DECIMAL(38); D is ONE double chain over the exact sums,
    * 6dp. Null when n < 5 (the formula's domain).
    *
    * Scale: the q206/q211 precedent — the day census is scale-CONSTANT
    * (≤365 rows by construction), so the O(n²) dominance self-join is
    * a bounded broadcast pair build under a lazy checkpoint, never
    * fact-sized; windows run on the ≤365-row census. */
  def q403HoeffdingD(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily2(s, dir))
    val recent = trailingYear(d).select(col("t"), col("rev"), col("cnt"))
    val ranked = recent
      .withColumn("r", row_number().over(
        Window.orderBy(col("rev"), col("t"))).cast("long"))
      .withColumn("s", row_number().over(
        Window.orderBy(col("cnt"), col("t"))).cast("long"))
      .localCheckpoint(eager = false)
    // Q_i: strict dominance count in both jittered orders. The
    // bounded (≤365²) pair build sits under a lazy checkpoint so the
    // downstream agg never re-plans it (the q206/q211 discipline).
    val q = ranked.as("a")
      .join(broadcast(ranked.as("b")),
        col("b.r") < col("a.r") && col("b.s") < col("a.s"), "left")
      .groupBy(col("a.t"), col("a.r"), col("a.s"))
      .agg(count(col("b.t")).as("q"))
      .localCheckpoint(eager = false)
    val agg = q.agg(
      count(lit(1)).as("n"),
      sum((col("q") * (col("q") - 1L)).cast(dec)).as("d1"),
      sum(((col("r") - 1L) * (col("r") - 2L)).cast(dec) *
        ((col("s") - 1L) * (col("s") - 2L)).cast(dec)).as("d2"),
      sum(((col("r") - 2L) * (col("s") - 2L)).cast(dec) *
        col("q").cast(dec)).as("d3"))
    def dd(c: Column) = c.cast("double")
    val n = dd(col("n"))
    // r19 (r18 advisor): clamp the shared denominator — n(n−1)…(n−4)
    // is exactly 0.0 whenever n ≤ 4 and the inline CASE alone is not
    // a safe guard under ANSI codegen hoisting (the q370/q400/q280
    // class: a common subexpression can be evaluated eagerly outside
    // the CASE's lazy branch). The clamp never changes a defined
    // result (n ≥ 5 ⇒ denominator ≥ 120).
    val dStat = lit(30.0) *
      ((n - 2.0) * (n - 3.0) * dd(col("d1")) + dd(col("d2")) -
        lit(2.0) * (n - 2.0) * dd(col("d3"))) /
      greatest(n * (n - 1.0) * (n - 2.0) * (n - 3.0) * (n - 4.0),
        lit(1e-300))
    agg.select(col("n").as("n_days"),
      col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"),
      col("d3").cast("long").as("d3"),
      when(col("n") < 5L, lit(null).cast("double"))
        .otherwise(Parity.fix(dStat, 6))
        .as("hoeffding_d"))
  }

  val q403HoeffdingDSql: String =
    s"""WITH daily AS ($daily2Sql),
      |d AS (${dayIndexedSql("daily")}),
      |recent AS (
      |  SELECT t, rev, cnt ${trailingYearSql("d")}),
      |ranked AS (
      |  SELECT t,
      |    CAST(ROW_NUMBER() OVER (ORDER BY rev, t) AS BIGINT) AS r,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt, t) AS BIGINT) AS s
      |  FROM recent),
      |q AS (
      |  SELECT a.t, a.r, a.s, COUNT(b.t) AS q
      |  FROM ranked a LEFT JOIN ranked b ON b.r < a.r AND b.s < a.s
      |  GROUP BY a.t, a.r, a.s),
      |agg AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(q AS HUGEINT) * (q - 1)) AS HUGEINT) AS d1,
      |    CAST(SUM(CAST((r - 1) * (r - 2) AS HUGEINT)
      |      * ((s - 1) * (s - 2))) AS HUGEINT) AS d2,
      |    CAST(SUM(CAST((r - 2) * (s - 2) AS HUGEINT) * q) AS HUGEINT)
      |      AS d3
      |  FROM q)
      |SELECT n AS n_days,
      |  CAST(d1 AS BIGINT) AS d1, CAST(d2 AS BIGINT) AS d2,
      |  CAST(d3 AS BIGINT) AS d3,
      |  CASE WHEN n < 5 THEN NULL
      |    ELSE ${Parity.fixSql("30.0 * ((CAST(n AS DOUBLE) - 2.0)" +
                                " * (CAST(n AS DOUBLE) - 3.0) * CAST(d1 AS DOUBLE)" +
                                " + CAST(d2 AS DOUBLE)" +
                                " - 2.0 * (CAST(n AS DOUBLE) - 2.0) * CAST(d3 AS DOUBLE))" +
                                " / GREATEST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)" +
                                " * (CAST(n AS DOUBLE) - 2.0) * (CAST(n AS DOUBLE) - 3.0)" +
                                " * (CAST(n AS DOUBLE) - 4.0), 1e-300)", 6)}
      |        + 0
      |    END AS hoeffding_d
      |FROM agg""".stripMargin

  /** L339 Blomqvist's β (medial correlation) *(added r18; [PK]
    * Blomqvist 1950)* — the quadrant-count dependence coefficient on
    * the same frame as q403/q211: split the (revenue, count) plane at
    * the two exact medians (the A10 percentile contract), drop points
    * ON either median (the classical even-sample convention), and read
    * β = (concordant-quadrant − discordant-quadrant count)/kept. The
    * cheapest member of the dependence ladder — ONE pass, no pair
    * build — and the one a 100 TB pre-screen would run first; its
    * sign must agree with q211's τ-b (pinned).
    *
    * Parity: medians are exact `percentile` == `quantile_cont` on
    * int64 values; quadrant membership and counts are exact integer
    * decisions; β is one division of exact ints, 6dp.
    *
    * Scale: the day census + a 1-row medians broadcast (q242 form) +
    * one map-side-combinable agg. No pair build at all. */
  def q404BlomqvistBeta(s: SparkSession, dir: String): DataFrame = {
    val d = dayIndexed(daily2(s, dir))
    val recent = trailingYear(d).select(col("rev"), col("cnt"))
      .localCheckpoint(eager = false)
    val med = recent.agg(expr("percentile(rev, 0.5)").as("mx"),
      expr("percentile(cnt, 0.5)").as("my"))
    val marked = recent.crossJoin(broadcast(med))
      .select((col("rev").cast("double") > col("mx")).as("px"),
        (col("rev").cast("double") < col("mx")).as("qx"),
        (col("cnt").cast("double") > col("my")).as("py"),
        (col("cnt").cast("double") < col("my")).as("qy"))
    val agg = marked.agg(
      count(lit(1)).as("n_days"),
      sum(when(col("px") && col("py"), 1L).otherwise(0L)).as("n_pp"),
      sum(when(col("qx") && col("qy"), 1L).otherwise(0L)).as("n_mm"),
      sum(when(col("px") && col("qy"), 1L).otherwise(0L)).as("n_pm"),
      sum(when(col("qx") && col("py"), 1L).otherwise(0L)).as("n_mp"))
    val kept = col("n_pp") + col("n_mm") + col("n_pm") + col("n_mp")
    agg.select(col("n_days"), col("n_pp"), col("n_mm"), col("n_pm"),
      col("n_mp"), (col("n_days") - kept).as("n_on_median"),
      when(kept === 0L, lit(null).cast("double"))
        .otherwise(Parity.fix(
          (col("n_pp") + col("n_mm") - col("n_pm") - col("n_mp"))
            .cast("double") /
            // r19: clamp (q403 note) — kept == 0 division must not be
            // reachable even if hoisting defeats the CASE's laziness.
            greatest(kept.cast("double"), lit(1e-300)), 6))
        .as("blomqvist_beta"))
  }

  val q404BlomqvistBetaSql: String =
    s"""WITH daily AS ($daily2Sql),
      |d AS (${dayIndexedSql("daily")}),
      |recent AS (
      |  SELECT rev, cnt ${trailingYearSql("d")}),
      |med AS (
      |  SELECT quantile_cont(rev, 0.5) AS mx,
      |    quantile_cont(cnt, 0.5) AS my
      |  FROM recent),
      |agg AS (
      |  SELECT COUNT(*) AS n_days,
      |    CAST(SUM(CASE WHEN rev > mx AND cnt > my THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pp,
      |    CAST(SUM(CASE WHEN rev < mx AND cnt < my THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_mm,
      |    CAST(SUM(CASE WHEN rev > mx AND cnt < my THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_pm,
      |    CAST(SUM(CASE WHEN rev < mx AND cnt > my THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_mp
      |  FROM recent CROSS JOIN med)
      |SELECT n_days, n_pp, n_mm, n_pm, n_mp,
      |  n_days - (n_pp + n_mm + n_pm + n_mp) AS n_on_median,
      |  CASE WHEN n_pp + n_mm + n_pm + n_mp = 0 THEN NULL
      |    ELSE
      |      ${Parity.fixSql("CAST(n_pp + n_mm - n_pm - n_mp AS DOUBLE)" +
                             " / GREATEST(CAST(n_pp + n_mm + n_pm + n_mp AS DOUBLE), 1e-300)", 6)}
      |      + 0 END AS blomqvist_beta
      |FROM agg""".stripMargin
}
