package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import SeriesStats.{daily, dailySql}

/** Robustness finishers (round 13, batch 6): the two checks that
  * guard the conclusions the existing families already draw.
  *
  * - q302 Dickey–Fuller unit-root test — the flip side of q253's
  *   KPSS: KPSS's null is STATIONARY, DF's null is a UNIT ROOT; a
  *   series that rejects DF and accepts KPSS is confidently
  *   stationary, and the pair disagreeing flags near-integrated
  *   behaviour that either test alone would miscall.
  * - q303 Yuen's trimmed-means t — the robust companion of q231's
  *   Welch test on the SAME two segments: if Welch's verdict
  *   evaporates under 20% trimming it was tail-driven, not a real
  *   location difference.
  */
object RobustTests {

  /** L236 Dickey–Fuller unit-root test ([PK] Dickey & Fuller 1979;
    * MacKinnon 1994 critical values): Δy_t = α + ρ·y_{t−1} + ε over
    * the daily revenue series; the t-ratio of ρ̂ against the 5%
    * constant-case asymptotic critical value −2.86. The null is a
    * UNIT ROOT — the mirror image of q253's KPSS (null = stationary):
    * run together they give the confident-stationary /
    * confident-integrated / near-integrated trichotomy a forecasting
    * pipeline branches on. The fixture's revenue series mean-reverts
    * hard (ρ̂ ≈ −1, a fresh draw each day), so DF rejects decisively —
    * pinned by NonDegeneracySpec, with q253's low KPSS η agreeing.
    *
    * Parity: the lag pairs come off one day-ordered window over the
    * ≤|days| census; the five regression moments are exact
    * DECIMAL(38,0)/HUGEINT; ρ̂, its standard error, and the t-ratio
    * are ONE identical double chain (simple-OLS closed form — no
    * matrix solve needed for one regressor), 6dp/4dp.
    *
    * Scale: the census is |days| rows regardless of order volume —
    * the single-partition window is bounded by the CALENDAR, not the
    * data (the q205 census discipline). Guards: m < 4 pairs or zero
    * regressor variance → null. */
  def q302DickeyFuller(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val pairs = daily(s, dir)
      .select(col("rev"), lag(col("rev"), 1).over(w).as("x"))
      .filter(col("x").isNotNull)
      .select(col("x"), (col("rev") - col("x")).as("z"))
    val a = pairs.agg(count(lit(1)).as("m"),
      sum(col("x").cast(dec)).as("sx"), sum(col("z").cast(dec)).as("sz"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
      sum(col("x").cast(dec) * col("z").cast(dec)).as("sxz"),
      sum(col("z").cast(dec) * col("z").cast(dec)).as("szz"))
    def f(c: String) = col(c).cast("double")
    val m = f("m")
    val den = m * f("sxx") - f("sx") * f("sx")
    val rho = (m * f("sxz") - f("sx") * f("sz")) / den
    val alpha = (f("sz") - rho * f("sx")) / m
    val sse = f("szz") - alpha * f("sz") - rho * f("sxz")
    val se = sqrt(sse / (m - 2.0) * m / den)
    val t = rho / se
    // exact zero-variance guard on the regressor
    val vx = col("m").cast(dec) * col("sxx") - col("sx") * col("sx")
    val bad = col("m") < 4L || vx <= lit(0L).cast(dec)
    def out(c: Column, sc: Int, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(round(c, sc) + 0.0).as(nm)
    a.select(col("m").cast("long").as("m_pairs"),
      out(rho, 6, "rho_hat"), out(alpha, 4, "drift_hat"),
      out(t, 4, "df_t"),
      when(bad, lit(null).cast("long"))
        .otherwise(when(t < -2.86, 1L).otherwise(0L))
        .as("reject_unit_root_5pct"))
  }

  val q302DickeyFullerSql: String =
    s"""WITH d AS ($dailySql),
       |p0 AS (
       |  SELECT rev, LAG(rev, 1) OVER (ORDER BY day) AS x FROM d),
       |p AS (SELECT x, rev - x AS z FROM p0 WHERE x IS NOT NULL),
       |a AS (
       |  SELECT COUNT(*) AS m,
       |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(z) AS HUGEINT) AS sz,
       |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
       |    CAST(SUM(CAST(x AS HUGEINT) * z) AS HUGEINT) AS sxz,
       |    CAST(SUM(CAST(z AS HUGEINT) * z) AS HUGEINT) AS szz
       |  FROM p),
       |c AS (
       |  SELECT m,
       |    (m < 4 OR CAST(m AS HUGEINT) * sxx - sx * sx <= 0) AS bad,
       |    CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS den,
       |    (CAST(m AS DOUBLE) * CAST(sxz AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sz AS DOUBLE))
       |      / (CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
       |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS rho,
       |    CAST(sx AS DOUBLE) AS sxf, CAST(sz AS DOUBLE) AS szf,
       |    CAST(sxz AS DOUBLE) AS sxzf, CAST(szz AS DOUBLE) AS szzf
       |  FROM a),
       |c2 AS (
       |  SELECT m, bad, rho, den,
       |    (szf - rho * sxf) / CAST(m AS DOUBLE) AS alpha
       |  FROM c),
       |c3 AS (
       |  SELECT m, bad, rho, alpha,
       |    rho / SQRT((szzf_sse) / (CAST(m AS DOUBLE) - 2.0)
       |      * CAST(m AS DOUBLE) / den) AS t
       |  FROM (SELECT c2.*, c.szzf - c2.alpha * c.szf - c2.rho * c.sxzf
       |          AS szzf_sse
       |        FROM c2 JOIN c USING (m)))
       |SELECT m AS m_pairs,
       |  CASE WHEN bad THEN NULL ELSE ROUND(rho, 6) + 0 END AS rho_hat,
       |  CASE WHEN bad THEN NULL ELSE ROUND(alpha, 4) + 0 END
       |    AS drift_hat,
       |  CASE WHEN bad THEN NULL ELSE ROUND(t, 4) + 0 END AS df_t,
       |  CASE WHEN bad THEN NULL
       |    WHEN t < -2.86 THEN 1 ELSE 0 END AS reject_unit_root_5pct
       |FROM c3""".stripMargin

  /** L251 Fisher dispersion index ([PK] Fisher 1950 §57; "index of
    * dispersion test"): is the daily ORDER-COUNT process Poisson per
    * priority? D = (n−1)·s²/x̄ ~ χ²_{n−1} under Poisson, reported with
    * the large-df normal z = (D−(n−1))/√(2(n−1)). The fixture's
    * answer is decisively UNDER-dispersed (z ≈ −11 at sf0.001, −14 at
    * sf0.01, all five priorities — pinned): conditional on a day
    * having orders, counts are far more REGULAR than Poisson — the
    * arrival-regularity screen that q193's inter-event burstiness
    * asks of timestamps, asked of daily counts. (Counts are
    * conditional on ACTIVE days — the day spine is not densified with
    * zeros; documented because it is exactly why the fixture reads
    * sub-Poisson.)
    *
    * Parity: per-priority n/Σc/Σc² exact int64; D and z one double
    * chain, floor-quantized 4dp. Scale: one date-truncated census +
    * one 5-group map-side agg. */
  def q317DispersionIndex(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"),
        to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("c"))
    val g = d.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(col("c").cast(dec) * col("c")).as("scc"))
    def f(c: String) = col(c).cast("double")
    val n = f("n")
    // (n−1)s² = n·Σc²−(Σc)² over n; D = that / (Σc/n)·(1/n)… expand:
    // D = (n·Σc² − (Σc)²) / Σc  (the n's cancel exactly)
    val disp = (n * f("scc") - f("sc") * f("sc")) / f("sc")
    val z = (disp - (n - 1.0)) / sqrt((n - 1.0) * 2.0)
    val bad = col("n") < 3L || col("sc") === 0L
    g.select(col("o_orderpriority"), col("n").cast("long").as("n_days"),
        col("sc").cast("long").as("n_orders"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.fix(disp, 4)).as("dispersion"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.fix(z, 4)).as("z"),
        when(bad, lit(null).cast("string"))
          .otherwise(when(z > 1.6449, "overdispersed")
            .when(z < -1.6449, "underdispersed").otherwise("poisson"))
          .as("verdict"))
      .orderBy("o_orderpriority")
  }

  val q317DispersionIndexSql: String =
    s"""WITH d AS (
      |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS dd,
      |    COUNT(*) AS c
      |  FROM orders GROUP BY 1, 2),
      |g AS (
      |  SELECT o_orderpriority, COUNT(*) AS n,
      |    CAST(SUM(c) AS BIGINT) AS sc,
      |    CAST(SUM(CAST(c AS HUGEINT) * c) AS HUGEINT) AS scc
      |  FROM d GROUP BY 1),
      |c0 AS (
      |  SELECT *,
      |    (CAST(n AS DOUBLE) * CAST(scc AS DOUBLE)
      |      - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE))
      |      / CAST(sc AS DOUBLE) AS disp,
      |    (n < 3 OR sc = 0) AS bad
      |  FROM g),
      |c1 AS (
      |  SELECT *,
      |    (disp - (CAST(n AS DOUBLE) - 1.0))
      |      / SQRT((CAST(n AS DOUBLE) - 1.0) * 2.0) AS z
      |  FROM c0)
      |SELECT o_orderpriority, n AS n_days, sc AS n_orders,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("disp", 4)} END AS dispersion,
      |  CASE WHEN bad THEN NULL ELSE ${Parity.fixSql("z", 4)} END AS z,
      |  CASE WHEN bad THEN NULL
      |    WHEN z > 1.6449 THEN 'overdispersed'
      |    WHEN z < -1.6449 THEN 'underdispersed'
      |    ELSE 'poisson' END AS verdict
      |FROM c1 ORDER BY o_orderpriority""".stripMargin

  /** L245 Chow structural-break test ([PK] Chow 1960): did the
    * daily-revenue TREND regression y_t = a + b·t change regime at the
    * series midpoint? F = ((SSE_p − SSE₁ − SSE₂)/k) /
    * ((SSE₁+SSE₂)/(n−2k)) with k = 2 parameters per regime; under H₀
    * and large n, k·F → χ²₂, whose tail is exactly e^{−F·k/2}... for
    * k = 2: p ≈ e^{−F} (documented large-n form; the 5% cut is
    * F(2,∞) = 2.996, applied as 3.0). Completes the q253/q302 series
    * triptych: KPSS (level stationarity), DF (unit root), Chow
    * (parameter stability). The fixture DISCRIMINATES by SF — the
    * 3-year sf0.001 series carries a real trend break (F ≈ 6.8),
    * the sf0.01 series does not (F ≈ 0.19); both verdicts are pinned
    * as measured.
    *
    * Parity: day index t and the regime indicator come from ONE
    * row-number window over the calendar-bounded census + a 1-row n
    * broadcast; per-regime moments are exact DECIMAL/HUGEINT
    * conditional sums in ONE agg; the three SSEs and F are one double
    * chain. Guards: either regime < 3 days or zero t-variance → null. */
  def q309ChowBreak(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("day")
    val idx = daily(s, dir)
      .withColumn("t", row_number().over(w).cast("long") - 1L)
    val tot = idx.agg(count(lit(1)).as("n"))
    val g = idx.crossJoin(broadcast(tot))
      .withColumn("g1", col("t") * 2L < col("n"))
      .groupBy("g1")
      .agg(count(lit(1)).as("m"), sum(col("t")).as("st"),
        sum(col("rev")).as("sr"),
        sum(col("t").cast(dec) * col("t")).as("stt"),
        sum(col("t").cast(dec) * col("rev")).as("str"),
        sum(col("rev").cast(dec) * col("rev")).as("srr"))
    def side(p: String) = Seq("m", "st", "sr", "stt", "str", "srr")
      .map(c => max(when(if (p == "a") col("g1") else !col("g1"),
        col(c))).as(s"${c}_$p"))
    val piv = g.agg(side("a").head, (side("a").tail ++ side("b")): _*)
    def f(c: String) = col(c).cast("double")
    def sse(p: String): Column = {
      val (m, st, sr) = (f(s"m_$p"), f(s"st_$p"), f(s"sr_$p"))
      val (stt, str, srr) = (f(s"stt_$p"), f(s"str_$p"), f(s"srr_$p"))
      val b = (m * str - st * sr) / (m * stt - st * st)
      srr - (sr - b * st) / m * sr - b * str
    }
    def pooled(c: String): Column = f(s"${c}_a") + f(s"${c}_b")
    val sseP = {
      val (m, st, sr) = (pooled("m"), pooled("st"), pooled("sr"))
      val (stt, str, srr) = (pooled("stt"), pooled("str"),
        pooled("srr"))
      val b = (m * str - st * sr) / (m * stt - st * st)
      srr - (sr - b * st) / m * sr - b * str
    }
    val s12 = sse("a") + sse("b")
    val n = pooled("m")
    val fStat = ((sseP - s12) / 2.0) / (s12 / (n - 4.0))
    val bad = col("m_a") < 3L || col("m_b") < 3L
    def out(c: Column, sc: Int, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(round(c, sc) + 0.0).as(nm)
    piv.select((col("m_a") + col("m_b")).cast("long").as("n_days"),
      col("m_a").cast("long").as("m_regime1"),
      col("m_b").cast("long").as("m_regime2"),
      out(fStat, 4, "chow_f"), out(exp(-fStat), 6, "p_asym"),
      when(bad, lit(null).cast("long"))
        .otherwise(when(fStat > 3.0, 1L).otherwise(0L))
        .as("break_5pct"))
  }

  val q309ChowBreakSql: String =
    s"""WITH d AS ($dailySql),
       |idx AS (
       |  SELECT rev, ROW_NUMBER() OVER (ORDER BY day) - 1 AS t,
       |    COUNT(*) OVER () AS n
       |  FROM d),
       |g AS (
       |  SELECT t * 2 < n AS g1, COUNT(*) AS m,
       |    CAST(SUM(t) AS BIGINT) AS st, CAST(SUM(rev) AS BIGINT) AS sr,
       |    CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS stt,
       |    CAST(SUM(CAST(t AS HUGEINT) * rev) AS HUGEINT) AS str,
       |    CAST(SUM(CAST(rev AS HUGEINT) * rev) AS HUGEINT) AS srr
       |  FROM idx GROUP BY 1),
       |piv AS (
       |  SELECT
       |    MAX(CASE WHEN g1 THEN m END) AS m_a,
       |    MAX(CASE WHEN g1 THEN st END) AS st_a,
       |    MAX(CASE WHEN g1 THEN sr END) AS sr_a,
       |    MAX(CASE WHEN g1 THEN stt END) AS stt_a,
       |    MAX(CASE WHEN g1 THEN str END) AS str_a,
       |    MAX(CASE WHEN g1 THEN srr END) AS srr_a,
       |    MAX(CASE WHEN NOT g1 THEN m END) AS m_b,
       |    MAX(CASE WHEN NOT g1 THEN st END) AS st_b,
       |    MAX(CASE WHEN NOT g1 THEN sr END) AS sr_b,
       |    MAX(CASE WHEN NOT g1 THEN stt END) AS stt_b,
       |    MAX(CASE WHEN NOT g1 THEN str END) AS str_b,
       |    MAX(CASE WHEN NOT g1 THEN srr END) AS srr_b
       |  FROM g),
       |ch AS (
       |  SELECT *,
       |    CAST(m_a AS DOUBLE) AS ma, CAST(m_b AS DOUBLE) AS mb,
       |    CAST(st_a AS DOUBLE) AS sta, CAST(st_b AS DOUBLE) AS stb,
       |    CAST(sr_a AS DOUBLE) AS sra, CAST(sr_b AS DOUBLE) AS srb,
       |    CAST(stt_a AS DOUBLE) AS stta, CAST(stt_b AS DOUBLE) AS sttb,
       |    CAST(str_a AS DOUBLE) AS stra, CAST(str_b AS DOUBLE) AS strb,
       |    CAST(srr_a AS DOUBLE) AS srra, CAST(srr_b AS DOUBLE) AS srrb
       |  FROM piv),
       |ss AS (
       |  SELECT *,
       |    srra - (sra - ((ma * stra - sta * sra) / (ma * stta - sta * sta))
       |        * sta) / ma * sra
       |      - ((ma * stra - sta * sra) / (ma * stta - sta * sta)) * stra
       |      AS sse_a,
       |    srrb - (srb - ((mb * strb - stb * srb) / (mb * sttb - stb * stb))
       |        * stb) / mb * srb
       |      - ((mb * strb - stb * srb) / (mb * sttb - stb * stb)) * strb
       |      AS sse_b,
       |    (srra + srrb)
       |      - ((sra + srb) - (((ma + mb) * (stra + strb)
       |            - (sta + stb) * (sra + srb))
       |          / ((ma + mb) * (stta + sttb) - (sta + stb) * (sta + stb)))
       |        * (sta + stb)) / (ma + mb) * (sra + srb)
       |      - (((ma + mb) * (stra + strb) - (sta + stb) * (sra + srb))
       |          / ((ma + mb) * (stta + sttb) - (sta + stb) * (sta + stb)))
       |        * (stra + strb) AS sse_p
       |  FROM ch),
       |ff AS (
       |  SELECT *,
       |    ((sse_p - sse_a - sse_b) / 2.0)
       |      / ((sse_a + sse_b) / (ma + mb - 4.0)) AS f,
       |    (m_a < 3 OR m_b < 3) AS bad
       |  FROM ss)
       |SELECT CAST(m_a + m_b AS BIGINT) AS n_days,
       |  m_a AS m_regime1, m_b AS m_regime2,
       |  CASE WHEN bad THEN NULL ELSE ROUND(f, 4) + 0 END AS chow_f,
       |  CASE WHEN bad THEN NULL ELSE ROUND(EXP(-f), 6) + 0 END
       |    AS p_asym,
       |  CASE WHEN bad THEN NULL WHEN f > 3.0 THEN 1 ELSE 0 END
       |    AS break_5pct
       |FROM ff""".stripMargin

  /** L237 Yuen's trimmed-means t-test ([PK] Yuen 1974; Wilcox 2012):
    * the 20%-trimmed robust companion of q231's Welch test on the SAME
    * contrast — BUILDING vs FURNITURE whole-dollar order values. Welch
    * compares raw means, which two fat tails can manufacture or mask;
    * Yuen compares trimmed means with winsorized variances, so a
    * verdict that SURVIVES trimming is a real location difference and
    * one that evaporates was tail-driven. g = ⌊n/5⌋ per group, h =
    * n − 2g retained; d_j = (n_j−1)·s²_{wj}/(h_j(h_j−1)), t =
    * (x̄_t1−x̄_t2)/√(d₁+d₂), Welch–Satterthwaite df on the d's.
    *
    * Construction (exact, no per-row sort): the values collapse to a
    * per-group VALUE census (domain-bounded: whole dollars), one
    * in-group running count gives each value's position interval
    * (cum−c, cum]; the trimmed sum is Σ v·overlap((g, n−g]) with
    * integer overlaps, and the winsorization boundaries x_(g+1),
    * x_(n−g) are conditional MINs over the same census — so trimmed/
    * winsorized sums are EXACT int64/DECIMAL and the t is one double
    * chain. The ≤2-row group-total table broadcasts back onto the
    * census (q242 in-plan form, no driver action).
    *
    * Scale: census size is bounded by the VALUE DOMAIN (≤ ~600k
    * distinct whole-dollar prices), not row count; everything after
    * the first groupBy is census-sized. Guards: h < 2 on either side
    * → null. */
  def q303YuenTrimmed(s: SparkSession, dir: String): DataFrame = {
    val o = LocationTests.buildingDollars(s, dir)
    val census = o.groupBy("ga", "v").agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("ga").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = census.withColumn("cum", sum("c").over(wc))
    val tot = census.groupBy("ga").agg(sum("c").as("n"))
      .withColumn("g", expr("n div 5"))
    val j = cum.join(broadcast(tot), "ga")
    val keep = greatest(least(col("cum"), col("n") - col("g")) -
      greatest(col("cum") - col("c"), col("g")), lit(0L))
    val per = j.groupBy("ga").agg(max(col("n")).as("n"),
      max(col("g")).as("g"),
      sum(col("v").cast(dec) * keep.cast(dec)).as("ts"),
      sum(col("v").cast(dec) * col("v").cast(dec) * keep.cast(dec))
        .as("tq"),
      min(when(col("cum") >= col("g") + 1L, col("v"))).as("lo"),
      min(when(col("cum") >= col("n") - col("g"), col("v"))).as("hi"))
    def side(p: String) = Seq("n", "g", "ts", "tq", "lo", "hi")
      .map(c => max(when(if (p == "a") col("ga") else !col("ga"),
        col(c))).as(s"${c}_$p"))
    val piv = per.agg(side("a").head,
      (side("a").tail ++ side("b")): _*)
    def chain(p: String): (Column, Column, Column) = {
      val n = col(s"n_$p").cast("double")
      val g = col(s"g_$p").cast("double")
      val h = n - g * 2.0
      // winsorized sums: the trimmed mass plus g copies of each bound
      val sw = col(s"ts_$p").cast("double") +
        g * (col(s"lo_$p").cast("double") + col(s"hi_$p").cast("double"))
      val qw = col(s"tq_$p").cast("double") +
        g * (col(s"lo_$p").cast("double") * col(s"lo_$p").cast("double") +
          col(s"hi_$p").cast("double") * col(s"hi_$p").cast("double"))
      val s2w = (qw - sw * sw / n) / (n - 1.0)
      val d = (n - 1.0) * s2w / (h * (h - 1.0))
      (col(s"ts_$p").cast("double") / h, d, h)
    }
    val (mta, da, ha) = chain("a")
    val (mtb, db, hb) = chain("b")
    val t = (mta - mtb) / sqrt(da + db)
    val df = (da + db) * (da + db) /
      (da * da / (ha - 1.0) + db * db / (hb - 1.0))
    val bad = col("n_a") - col("g_a") * 2L < 2L ||
      col("n_b") - col("g_b") * 2L < 2L
    def out(c: Column, sc: Int, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(round(c, sc) + 0.0).as(nm)
    piv.select(col("n_a").cast("long").as("n_building"),
      col("n_b").cast("long").as("n_furniture"),
      col("g_a").cast("long").as("g_building"),
      col("g_b").cast("long").as("g_furniture"),
      out(mta, 4, "tmean_building"), out(mtb, 4, "tmean_furniture"),
      out(t, 4, "yuen_t"), out(df, 2, "yuen_df"))
  }

  val q303YuenTrimmedSql: String =
    s"""WITH o AS (${LocationTests.buildingDollarsSql}),
      |census AS (SELECT ga, v, COUNT(*) AS c FROM o GROUP BY ga, v),
      |cum0 AS (
      |  SELECT ga, v, c,
      |    CAST(SUM(c) OVER (PARTITION BY ga ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum
      |  FROM census),
      |tot AS (SELECT ga, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(c) AS BIGINT) // 5 AS g
      |  FROM census GROUP BY ga),
      |k AS (
      |  SELECT cum0.*, n, g,
      |    GREATEST(LEAST(cum, n - g) - GREATEST(cum - c, g), 0) AS keep
      |  FROM cum0 JOIN tot USING (ga)),
      |per AS (
      |  SELECT ga, MAX(n) AS n, MAX(g) AS g,
      |    CAST(SUM(CAST(v AS HUGEINT) * keep) AS HUGEINT) AS ts,
      |    CAST(SUM(CAST(v AS HUGEINT) * v * keep) AS HUGEINT) AS tq,
      |    MIN(CASE WHEN cum >= g + 1 THEN v END) AS lo,
      |    MIN(CASE WHEN cum >= n - g THEN v END) AS hi
      |  FROM k GROUP BY ga),
      |piv AS (
      |  SELECT
      |    MAX(CASE WHEN ga THEN n END) AS n_a,
      |    MAX(CASE WHEN ga THEN g END) AS g_a,
      |    MAX(CASE WHEN ga THEN ts END) AS ts_a,
      |    MAX(CASE WHEN ga THEN tq END) AS tq_a,
      |    MAX(CASE WHEN ga THEN lo END) AS lo_a,
      |    MAX(CASE WHEN ga THEN hi END) AS hi_a,
      |    MAX(CASE WHEN NOT ga THEN n END) AS n_b,
      |    MAX(CASE WHEN NOT ga THEN g END) AS g_b,
      |    MAX(CASE WHEN NOT ga THEN ts END) AS ts_b,
      |    MAX(CASE WHEN NOT ga THEN tq END) AS tq_b,
      |    MAX(CASE WHEN NOT ga THEN lo END) AS lo_b,
      |    MAX(CASE WHEN NOT ga THEN hi END) AS hi_b
      |  FROM per),
      |ch AS (
      |  SELECT *,
      |    CAST(n_a AS DOUBLE) - 2.0 * CAST(g_a AS DOUBLE) AS h_a,
      |    CAST(n_b AS DOUBLE) - 2.0 * CAST(g_b AS DOUBLE) AS h_b,
      |    CAST(ts_a AS DOUBLE) + CAST(g_a AS DOUBLE)
      |      * (CAST(lo_a AS DOUBLE) + CAST(hi_a AS DOUBLE)) AS sw_a,
      |    CAST(tq_a AS DOUBLE) + CAST(g_a AS DOUBLE)
      |      * (CAST(lo_a AS DOUBLE) * CAST(lo_a AS DOUBLE)
      |        + CAST(hi_a AS DOUBLE) * CAST(hi_a AS DOUBLE)) AS qw_a,
      |    CAST(ts_b AS DOUBLE) + CAST(g_b AS DOUBLE)
      |      * (CAST(lo_b AS DOUBLE) + CAST(hi_b AS DOUBLE)) AS sw_b,
      |    CAST(tq_b AS DOUBLE) + CAST(g_b AS DOUBLE)
      |      * (CAST(lo_b AS DOUBLE) * CAST(lo_b AS DOUBLE)
      |        + CAST(hi_b AS DOUBLE) * CAST(hi_b AS DOUBLE)) AS qw_b
      |  FROM piv),
      |dd AS (
      |  SELECT *,
      |    (CAST(n_a AS DOUBLE) - 1.0)
      |      * ((qw_a - sw_a * sw_a / CAST(n_a AS DOUBLE))
      |        / (CAST(n_a AS DOUBLE) - 1.0))
      |      / (h_a * (h_a - 1.0)) AS d_a,
      |    (CAST(n_b AS DOUBLE) - 1.0)
      |      * ((qw_b - sw_b * sw_b / CAST(n_b AS DOUBLE))
      |        / (CAST(n_b AS DOUBLE) - 1.0))
      |      / (h_b * (h_b - 1.0)) AS d_b,
      |    CAST(ts_a AS DOUBLE) / h_a AS mt_a,
      |    CAST(ts_b AS DOUBLE) / h_b AS mt_b,
      |    (n_a - 2 * g_a < 2 OR n_b - 2 * g_b < 2) AS bad
      |  FROM ch)
      |SELECT n_a AS n_building, n_b AS n_furniture,
      |  g_a AS g_building, g_b AS g_furniture,
      |  CASE WHEN bad THEN NULL ELSE ROUND(mt_a, 4) + 0 END
      |    AS tmean_building,
      |  CASE WHEN bad THEN NULL ELSE ROUND(mt_b, 4) + 0 END
      |    AS tmean_furniture,
      |  CASE WHEN bad THEN NULL
      |    ELSE ROUND((mt_a - mt_b) / SQRT(d_a + d_b), 4) + 0 END
      |    AS yuen_t,
      |  CASE WHEN bad THEN NULL
      |    ELSE ROUND((d_a + d_b) * (d_a + d_b)
      |      / (d_a * d_a / (h_a - 1.0) + d_b * d_b / (h_b - 1.0)), 2)
      |      + 0 END AS yuen_df
      |FROM dd""".stripMargin
}
