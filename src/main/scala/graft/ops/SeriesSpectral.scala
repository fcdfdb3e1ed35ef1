package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ops.SeriesStats.{daily, dailySql, daily2, daily2Sql}

/** Spectral / entropy / long-range-dependence statistics on the daily
  * order-revenue series — the SeriesStats split (r14, the
  * EventQueries discipline: the file crossed the ~2,000-line review
  * threshold). Shares the exact int64 daily series and its parity
  * rules with [[SeriesStats]] (see that file's scale/parity header):
  * Gumbel return levels (q221), Haar wavelet energies (q246), Hurst
  * R/S (q252), KPSS (q253), Schuster periodogram (q266), Ljung–Box
  * (q275), spectral entropy (q290), sample entropy (q292).
  */
object SeriesSpectral {
  /** L154 Gumbel block-maxima fit + return levels [PK: Gumbel 1958]:
    * monthly maxima of the daily revenue series, method-of-moments
    * Gumbel parameters (β = s·√6/π, μ = m̄ − γβ) and the 12-month /
    * 120-month return levels μ − β·ln(−ln(1−1/T)) — the extreme-value
    * "what peak should we provision for" readout that q97/q214's
    * outlier screens (central-distribution tools) cannot answer.
    *
    * Parity: block maxima are exact int64; the two moment sums ride
    * DECIMAL(38,0)/HUGEINT; mean/sd/β/μ/levels are one fixed double
    * chain with shared literals (√6/π, Euler γ), 4dp. The ln() calls
    * sit in the q196 accepted-residual class (1-ulp libm divergence
    * cannot flip a 4dp rounding away from a boundary).
    *
    * Scale: day agg → ≤|months| census (scale-constant); single-row
    * output. */
  def q221Gumbel(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val blocks = daily(s, dir)
      .groupBy(trunc(col("day"), "month").as("m"))
      .agg(max(col("rev")).as("mx"))
    val g = blocks.agg(count(lit(1)).as("n"),
      sum(col("mx").cast(dec)).as("s1"),
      sum(col("mx").cast(dec) * col("mx").cast(dec)).as("s2"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    // fuzz hardening (r12): a single-month corpus leaves sd (and the
    // whole fit) undefined — null, not a divide-by-zero crash
    val sd = when(col("n") < 2, lit(null).cast("double"))
      .otherwise(sqrt((nD * col("s2").cast("double") -
        col("s1").cast("double") * col("s1").cast("double")) /
        (nD * (nD - 1.0))))
    val beta = sd * 0.7796968012336761
    val mu = mean - beta * 0.5772156649015329
    g.select(col("n").as("n_months"),
      (round(mean, 4) + 0.0).as("mean_max"),
      (round(sd, 4) + 0.0).as("sd_max"),
      (round(beta, 4) + 0.0).as("beta"),
      (round(mu, 4) + 0.0).as("mu"),
      (round(mu - beta * log(-log(lit(1.0) - 1.0 / 12.0)), 4) + 0.0)
        .as("rl_12m"),
      (round(mu - beta * log(-log(lit(1.0) - 1.0 / 120.0)), 4) + 0.0)
        .as("rl_120m"))
  }

  val q221GumbelSql: String =
    s"""WITH d AS ($dailySql),
       |b AS (
       |  SELECT date_trunc('month', day) AS m, CAST(MAX(rev) AS BIGINT) AS mx
       |  FROM d GROUP BY 1),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(mx) AS DECIMAL(38,0)) AS s1,
       |    CAST(SUM(mx * mx) AS DECIMAL(38,0)) AS s2
       |  FROM b),
       |c AS (
       |  SELECT n,
       |    CAST(s1 AS DOUBLE) / n AS mean,
       |    CASE WHEN n < 2 THEN NULL ELSE
       |      sqrt((CAST(n AS DOUBLE) * CAST(s2 AS DOUBLE)
       |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
       |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))) END AS sd
       |  FROM g),
       |p AS (
       |  SELECT n, mean, sd, sd * 0.7796968012336761 AS beta,
       |    mean - sd * 0.7796968012336761 * 0.5772156649015329 AS mu
       |  FROM c)
       |SELECT n AS n_months,
       |  ROUND(mean, 4) + 0 AS mean_max,
       |  ROUND(sd, 4) + 0 AS sd_max,
       |  ROUND(beta, 4) + 0 AS beta,
       |  ROUND(mu, 4) + 0 AS mu,
       |  ROUND(mu - beta * ln(-ln(1.0 - 1.0 / 12.0)), 4) + 0 AS rl_12m,
       |  ROUND(mu - beta * ln(-ln(1.0 - 1.0 / 120.0)), 4) + 0 AS rl_120m
       |FROM p""".stripMargin

  /** L186 Hurst exponent by rescaled range (Hurst 1951, Mandelbrot &
    * Wallis [PK]): mean R/S over non-overlapping blocks of w ∈ {8, 16,
    * 32, 64} days, H = the log₂-log₂ least-squares slope. H ≈ 0.5 ⇒
    * short memory; H → 1 ⇒ long-range dependence the ACF/PACF
    * (q208/q219) family underestimates. The long-memory diagnostic of
    * the series toolkit.
    *
    * Parity: per-block cumulative deviations ride EXACT integers —
    * W_t = w·(running Σx) − t·S_block so R = (maxW − minW)/w and
    * S² = (w·Q − S²)/w² are exact-int expressions; per-block R/S is
    * one double chain, nano-quantized before the cross-block integer
    * MEAN; H is a 4-point least-squares slope in doubles 6dp.
    *
    * Scale: block ids are integer div of the [[PrefixSum]] row index;
    * per-block windows partition BY block (parallel, bounded width);
    * ≤4-row algebra after. */
  def q252HurstRs(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d0 = graft.ops.PrefixSum.withPrefixSums(
      daily(s, dir).select(col("day"), col("rev")),
      Seq(col("day")), Seq((lit(1L), "rn")))
      .select((col("rn") - 1).as("idx"), col("rev").as("x"))
      .localCheckpoint(eager = false)
    val ws = Seq(8, 16, 32, 64)
    val perW = ws.map { w =>
      val blocks = d0.withColumn("b", expr(s"idx div $w"))
        .withColumn("t", expr(s"idx % $w") + 1)
      val wB = Window.partitionBy("b").orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.partitionBy("b")
      val full = blocks
        .withColumn("np", count(lit(1)).over(wBlk))
        .filter(col("np") === w)
        .withColumn("sb", sum(col("x")).over(wBlk))
        .withColumn("qb", sum(col("x").cast(dec) * col("x").cast(dec))
          .over(wBlk))
        .withColumn("cum", sum(col("x")).over(wB))
        .withColumn("wt",
          lit(w.toLong) * col("cum") - col("t") * col("sb"))
      val rs = full.groupBy("b", "sb", "qb")
        .agg(max(col("wt")).as("wmax"), min(col("wt")).as("wmin"))
        .select(
          ((col("wmax") - col("wmin")).cast("double") /
            sqrt((lit(w.toLong) * col("qb").cast("double") -
              col("sb").cast("double") * col("sb")))).as("rs"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(Parity.quant(col("rs"), 1e9)).as("rsq"))
      rs.select(lit(w).as("w"), col("n_blocks"),
        (col("rsq").cast("double") / 1e9 / col("n_blocks")).as("rs_mean"))
    }
    val lvls = perW.reduce(_ unionAll _)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    // least squares of ln(rs_mean) on ln(w) over the 4 points.
    // r16 libm-sum audit: the regression moments summed RAW libm ln
    // terms (the seed-122 q175 class). Quantize each ln to nano-long
    // first; moments are then exact integers (DECIMAL for the ~1e19
    // products) and the slope is ONE double division of identical
    // exact operands — the 1e9 scales cancel in the ratio.
    val lx9 = Parity.quant(log(col("w").cast("double")), 1e9).cast(dec)
    val ly9 = Parity.quant(log(col("rs_mean")), 1e9).cast(dec)
    val t = lvls
      .withColumn("k", count(lit(1)).over(wAll).cast(dec))
      .withColumn("sx", sum(lx9).over(wAll))
      .withColumn("sy", sum(ly9).over(wAll))
      .withColumn("sxy", sum(lx9 * ly9).over(wAll))
      .withColumn("sxx", sum(lx9 * lx9).over(wAll))
    val h = (col("k") * col("sxy") - col("sx") * col("sy")).cast("double") /
      (col("k") * col("sxx") - col("sx") * col("sx")).cast("double")
    t.select(col("w"), col("n_blocks"),
        (round(col("rs_mean"), 6) + 0.0).as("rs_mean"),
        (round(h, 6) + 0.0).as("hurst_h"))
      .orderBy("w")
  }

  val q252HurstRsSql: String = {
    def lvl(w: Int): String =
      s"""SELECT $w AS w, COUNT(*) AS n_blocks,
         |  CAST(SUM(CAST(FLOOR(rs * 1e9 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1e9 / COUNT(*) AS rs_mean
         |FROM (
         |  SELECT b,
         |    CAST(MAX(wt) - MIN(wt) AS DOUBLE)
         |      / SQRT($w * CAST(MAX(qb) AS DOUBLE)
         |        - CAST(MAX(sb) AS DOUBLE) * MAX(sb)) AS rs
         |  FROM (
         |    SELECT b, t, sb, qb,
         |      $w * SUM(x) OVER (PARTITION BY b ORDER BY t
         |        ROWS UNBOUNDED PRECEDING) - t * sb AS wt
         |    FROM (
         |      SELECT idx // $w AS b, idx % $w + 1 AS t, x,
         |        COUNT(*) OVER (PARTITION BY idx // $w) AS np,
         |        CAST(SUM(x) OVER (PARTITION BY idx // $w) AS BIGINT)
         |          AS sb,
         |        CAST(SUM(CAST(x AS HUGEINT) * x) OVER
         |          (PARTITION BY idx // $w) AS HUGEINT) AS qb
         |      FROM d0) q WHERE np = $w) q2
         |  GROUP BY b) q3""".stripMargin
    s"""WITH d AS ($dailySql),
       |d0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS idx, rev AS x
       |  FROM d),
       |lv AS (
       |${lvl(8)}
       |UNION ALL
       |${lvl(16)}
       |UNION ALL
       |${lvl(32)}
       |UNION ALL
       |${lvl(64)}),
       |lq AS (
       |  SELECT *,
       |    CAST(CAST(FLOOR(LN(CAST(w AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
       |      AS HUGEINT) AS lx9,
       |    CAST(CAST(FLOOR(LN(rs_mean) * 1e9 + 0.5) AS BIGINT)
       |      AS HUGEINT) AS ly9
       |  FROM lv),
       |t AS (
       |  SELECT *, CAST(COUNT(*) OVER () AS HUGEINT) AS k,
       |    SUM(lx9) OVER () AS sx,
       |    SUM(ly9) OVER () AS sy,
       |    SUM(lx9 * ly9) OVER () AS sxy,
       |    SUM(lx9 * lx9) OVER () AS sxx
       |  FROM lq)
       |SELECT w, n_blocks,
       |  ROUND(rs_mean, 6) + 0 AS rs_mean,
       |  ROUND(CAST(k * sxy - sx * sy AS DOUBLE)
       |    / CAST(k * sxx - sx * sx AS DOUBLE), 6) + 0
       |    AS hurst_h
       |FROM t ORDER BY w""".stripMargin
  }

  /** L187 KPSS level-stationarity statistic (Kwiatkowski, Phillips,
    * Schmidt & Shin 1992 [PK]): η = Σ_t P_t² / (n²·σ̂²_lr) where P_t
    * are partial sums of demeaned daily revenue and σ̂²_lr is the
    * Bartlett-weighted long-run variance with bandwidth m = 7 (one
    * week). The null here is STATIONARITY — the reverse orientation
    * of every other trend test in the suite (q206/q226/q248 hunt for
    * trends; KPSS asks whether treating the series as stationary is
    * even defensible).
    *
    * Parity: demeaned values ride n-SCALED exact integers
    * (E_t = n·x_t − S), so partial sums and Σ P_t² are exact
    * DECIMAL/HUGEINT; autocovariance lag sums likewise; η is one
    * double chain on the common n-scale (the n² factors cancel
    * algebraically — documented in the chain), 6dp.
    *
    * Scale: day census + [[PrefixSum]] for P_t (no global window on
    * fact data); the m = 7 lag windows run over the scale-constant
    * series. */
  def q253Kpss(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val m = 7
    val tot = daily(s, dir).agg(count(lit(1)).as("n"),
      sum(col("rev")).as("sr"))
    // E_t = n·x_t − S  (n-scaled demeaned value, exact int64)
    val e = daily(s, dir).crossJoin(broadcast(tot))
      .select(col("day"), col("n"),
        (col("n") * col("rev") - col("sr")).as("et"))
    val cum = graft.ops.PrefixSum.withPrefixSums(e, Seq(col("day")),
      Seq((col("et"), "pt")))
      .localCheckpoint(eager = false)
    val w = Window.orderBy("day")
    val lags = cum.select(
      (col("et").cast(dec) * col("et").cast(dec)).as("g0") +:
        (col("pt").cast(dec) * col("pt").cast(dec)).as("p2") +:
        (1 to m).map(j =>
          (col("et").cast(dec) * lag(col("et"), j).over(w).cast(dec))
            .as(s"g$j")): _*)
    val aggCols = sum(col("g0")).as("sg0") +: sum(col("p2")).as("sp2") +:
      (1 to m).map(j => sum(col(s"g$j")).as(s"sg$j"))
    val agg = lags.agg(aggCols.head, aggCols.tail: _*)
      .crossJoin(broadcast(tot.select(col("n"))))
    // scale algebra: with E = n·e, ΣP'² = n²ΣP², S_lr = n²·(n·σ̂²_lr),
    // so η = n⁻²ΣP²/σ̂²_lr = ΣP'² / (n · S_lr) — one factor of n
    val sLr = (1 to m).foldLeft(col("sg0").cast("double")) {
      case (acc, j) =>
        acc + lit(2.0 * (1.0 - j.toDouble / (m + 1))) *
          col(s"sg$j").cast("double")
    }
    agg.select(col("n").as("n_days"), lit(m).as("bandwidth"),
      (round(col("sp2").cast("double") /
        (col("n").cast("double") * sLr), 6) + 0.0).as("kpss_eta"))
  }

  val q253KpssSql: String = {
    val m = 7
    val bart = (1 to m).map(j =>
      s"2.0 * (1.0 - $j.0 / ${m + 1}.0) * CAST(sg$j AS DOUBLE)")
      .mkString(" + ")
    val lagCols = (1 to m).map(j =>
      s"LAG(et, $j) OVER (ORDER BY day) AS el$j")
      .mkString(",\n       |    ")
    val lagSums = (1 to m).map(j =>
      s"CAST(SUM(CAST(et AS HUGEINT) * el$j) AS HUGEINT) AS sg$j")
      .mkString(",\n       |    ")
    s"""WITH d AS ($dailySql),
       |tot AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS sr
       |  FROM d),
       |e AS (
       |  SELECT day, (SELECT n FROM tot) * rev - (SELECT sr FROM tot)
       |    AS et
       |  FROM d),
       |cum AS (
       |  SELECT day, et,
       |    CAST(SUM(et) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS pt,
       |    $lagCols
       |  FROM e),
       |agg AS (
       |  SELECT
       |    CAST(SUM(CAST(et AS HUGEINT) * et) AS HUGEINT) AS sg0,
       |    CAST(SUM(CAST(pt AS HUGEINT) * pt) AS HUGEINT) AS sp2,
       |    $lagSums
       |  FROM cum)
       |SELECT (SELECT n FROM tot) AS n_days, $m AS bandwidth,
       |  ROUND(CAST(sp2 AS DOUBLE)
       |    / (CAST((SELECT n FROM tot) AS DOUBLE)
       |      * (CAST(sg0 AS DOUBLE) + $bart)), 6) + 0 AS kpss_eta
       |FROM agg""".stripMargin
  }

  /** L180 Haar wavelet energy decomposition (Haar 1910, Mallat [PK]):
    * detail energies at dyadic scales 1–3 over the daily revenue
    * series — how much revenue variation lives at the 2-day, 4-day,
    * and 8-day scales. The multiresolution complement to q208's ACF
    * (correlation at a lag) and q212's fixed weekly factor: energy
    * concentrating at level 3 ≈ weekly structure, at level 1 ≈
    * day-to-day noise.
    *
    * Parity: EXACT arithmetic throughout — the orthonormal detail
    * d_{l,k} = (S_{l−1,2k} − S_{l−1,2k+1})/√(2^l) has energy
    * Σd² = Σ(S_even − S_odd)²/2^l where the pair sums S are exact
    * int64 whole dollars, so each level's energy is an exact integer
    * divided by a power of two (exactly representable); shares are
    * one double chain 6dp. Trailing incomplete pairs at each level
    * are dropped (documented, identical on both engines via the same
    * div/parity arithmetic).
    *
    * Scale: three groupBy passes over the scale-constant day census
    * (the census row number rides [[PrefixSum]], not a global
    * window); everything is map-side combinable. */
  def q246HaarEnergy(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d0 = graft.ops.PrefixSum.withPrefixSums(
      daily(s, dir).select(col("day"), col("rev")),
      Seq(col("day")), Seq((lit(1L), "rn")))
      .select((col("rn") - 1).as("idx"), col("rev").as("x"))
    def level(in: DataFrame): (DataFrame, DataFrame) = {
      val paired = in.groupBy((col("idx") / 2).cast("long").as("idx"))
        .agg(count(lit(1)).as("np"),
          sum(col("x")).as("x"),
          sum(when(col("idx") % 2 === 0, col("x")).otherwise(-col("x")))
            .as("dd"))
      val complete = paired.filter(col("np") === 2)
      (complete.select(col("idx"), col("x")),
        complete.agg(count(lit(1)).as("n_pairs"),
          sum(col("dd").cast(dec) * col("dd").cast(dec)).as("e2")))
    }
    val (s1, e1) = level(d0)
    val (s2, e2) = level(s1)
    val (_, e3) = level(s2)
    val lvls = e1.select(lit(1).as("level"), col("n_pairs"),
        (col("e2").cast("double") / 2.0).as("energy"))
      .unionAll(e2.select(lit(2).as("level"), col("n_pairs"),
        (col("e2").cast("double") / 4.0).as("energy")))
      .unionAll(e3.select(lit(3).as("level"), col("n_pairs"),
        (col("e2").cast("double") / 8.0).as("energy")))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    lvls.withColumn("tot", sum(col("energy")).over(wAll))
      .select(col("level"), col("n_pairs"),
        (round(col("energy") / 1e6, 4) + 0.0).as("energy_m"),
        (round(col("energy") / col("tot"), 6) + 0.0).as("share"))
      .orderBy("level")
  }

  val q246HaarEnergySql: String =
    s"""WITH d AS ($dailySql),
       |d0 AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS idx, rev AS x
       |  FROM d),
       |l1 AS (
       |  SELECT idx // 2 AS idx, COUNT(*) AS np,
       |    CAST(SUM(x) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN idx % 2 = 0 THEN x ELSE -x END) AS BIGINT)
       |      AS dd
       |  FROM d0 GROUP BY 1),
       |l2 AS (
       |  SELECT idx // 2 AS idx, COUNT(*) AS np,
       |    CAST(SUM(x) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN idx % 2 = 0 THEN x ELSE -x END) AS BIGINT)
       |      AS dd
       |  FROM l1 WHERE np = 2 GROUP BY 1),
       |l3 AS (
       |  SELECT idx // 2 AS idx, COUNT(*) AS np,
       |    CAST(SUM(x) AS BIGINT) AS x,
       |    CAST(SUM(CASE WHEN idx % 2 = 0 THEN x ELSE -x END) AS BIGINT)
       |      AS dd
       |  FROM l2 WHERE np = 2 GROUP BY 1),
       |lv AS (
       |  SELECT 1 AS level, COUNT(*) AS n_pairs,
       |    CAST(SUM(CAST(dd AS HUGEINT) * dd) AS DOUBLE) / 2.0 AS energy
       |  FROM l1 WHERE np = 2
       |  UNION ALL
       |  SELECT 2, COUNT(*),
       |    CAST(SUM(CAST(dd AS HUGEINT) * dd) AS DOUBLE) / 4.0
       |  FROM l2 WHERE np = 2
       |  UNION ALL
       |  SELECT 3, COUNT(*),
       |    CAST(SUM(CAST(dd AS HUGEINT) * dd) AS DOUBLE) / 8.0
       |  FROM l3 WHERE np = 2),
       |t AS (SELECT *, SUM(energy) OVER () AS tot FROM lv)
       |SELECT level, n_pairs,
       |  ROUND(energy / 1e6, 4) + 0 AS energy_m,
       |  ROUND(energy / tot, 6) + 0 AS share
       |FROM t ORDER BY level""".stripMargin

  /** L201 periodogram at calendar periods {7, 14, 30} days + spectral
    * share (Schuster 1898 [PK]): P(ω) = (Σε_t cos ωt)² + (Σε_t sin ωt)²
    * over the demeaned day series, reported as the share of total
    * variance each period carries — the frequency-domain seasonality
    * readout beside q212's day-of-week means (q212 asks "which weekday";
    * the periodogram asks "is 7 days even the right period").
    *
    * Parity: demeaning rides the q253 n-scaling trick (ε_t = n·x_t − S
    * is EXACT int64); each cos/sin product quantizes to nano units
    * before its exact integer sum, so the one cross-libm trig call per
    * term sits behind a quantizer (boundary flips are measure-zero, the
    * q121 ln precedent); the final share is one double chain 6dp.
    *
    * Scale: day census + [[PrefixSum]] index; the three periods ride
    * ONE census pass (explode, not a 3-branch union — a union would
    * re-plan the scan and the totals pass once per period),
    * map-side summed. Guards: n < 2·period or zero variance → null
    * share for that period. */
  def q266Periodogram(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val e = graft.ops.PrefixSum.withPrefixSumsAndTotals(
      daily(s, dir).select(col("day"), col("rev")),
      Seq(col("day")), Seq((lit(1L), "rn")), Nil,
      Seq((lit(1L), "n"), (col("rev"), "s"),
        (col("rev").cast(dec) * col("rev").cast(dec), "q")))
      .select((col("rn") - 1).as("tt"), col("n"), col("s"), col("q"),
        (col("rev").cast(dec) * col("n").cast(dec) - col("s").cast(dec))
          .as("eps"))
    val ang = col("tt").cast("double") *
      (lit(2.0 * math.Pi) / col("period_days").cast("double"))
    val perP = e
      .select(col("*"),
        explode(array(lit(7L), lit(14L), lit(30L))).as("period_days"))
      .select(col("period_days"), col("n"), col("s"), col("q"),
        floor(col("eps").cast("double") * cos(ang) / 1e6 + 0.5)
          .cast("long").as("cq"),
        floor(col("eps").cast("double") * sin(ang) / 1e6 + 0.5)
          .cast("long").as("sq2"))
      .groupBy("period_days", "n", "s", "q")
      .agg(sum(col("cq")).as("sc"), sum(col("sq2")).as("ss"))
    val nD = col("n").cast("double")
    // ε is n-scaled, and the quantizer already divided by 1e6: power in
    // natural units = ((sc·1e6)² + (ss·1e6)²) / n²; total variance
    // Σε²/n² = (n·q − s²)/n
    val power = (col("sc").cast("double") * col("sc") +
      col("ss").cast("double") * col("ss")) * 1e12 / (nD * nD)
    val totVar = (nD * col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double")) / nD
    val share = power / (nD * totVar) * 2.0
    val bad = col("n") < col("period_days") * 2 || totVar <= 0.0
    perP.select(col("period_days"), col("n").as("n_days"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(share, 6) + 0.0).as("spectral_share"))
      .orderBy("period_days")
  }

  val q266PeriodogramSql: String =
    s"""WITH d AS ($dailySql),
       |r AS (SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS tt, rev
       |      FROM d),
       |tot AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s,
       |  SUM(CAST(rev AS HUGEINT) * rev) AS q FROM r),
       |e AS (
       |  SELECT tt, n, s, q,
       |    CAST(rev AS HUGEINT) * n - s AS eps
       |  FROM r, tot),
       |p AS (
       |  SELECT per, n, s, q,
       |    CAST(SUM(CAST(FLOOR(CAST(eps AS DOUBLE)
       |      * cos(CAST(tt AS DOUBLE) * (2.0 * pi() / per)) / 1e6 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS sc,
       |    CAST(SUM(CAST(FLOOR(CAST(eps AS DOUBLE)
       |      * sin(CAST(tt AS DOUBLE) * (2.0 * pi() / per)) / 1e6 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS ss
       |  FROM e CROSS JOIN (SELECT unnest([7, 14, 30]) AS per)
       |  GROUP BY per, n, s, q)
       |SELECT CAST(per AS BIGINT) AS period_days, n AS n_days,
       |  CASE WHEN n < per * 2
       |      OR (CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
       |        / CAST(n AS DOUBLE) <= 0.0 THEN NULL
       |    ELSE ROUND(
       |      (CAST(sc AS DOUBLE) * sc + CAST(ss AS DOUBLE) * ss) * 1e12
       |        / (CAST(n AS DOUBLE) * n)
       |      / (CAST(n AS DOUBLE)
       |         * ((CAST(n AS DOUBLE) * q - CAST(s AS DOUBLE) * s)
       |            / CAST(n AS DOUBLE))) * 2.0, 6) + 0 END
       |    AS spectral_share
       |FROM p ORDER BY period_days""".stripMargin

  /** L205 Ljung–Box portmanteau Q on the DIFFERENCED daily revenue
    * series, lags 1–6 (Ljung & Box 1978 [PK]): Q = n(n+2)Σρ̂ₖ²/(n−k)
    * with the STANDARD ACF estimator (global mean, global denominator
    * — not q208's per-lag Pearson, whose denominators re-center per
    * lag and would decalibrate the χ² reference). The one-number
    * "is anything left after differencing" white-noise gate a
    * forecasting pipeline runs before trusting residuals; q208 shows
    * WHERE dependence sits, Ljung–Box says WHETHER it is jointly
    * significant. Six lags, not seven, so df = 6 stays even and the
    * χ² tail keeps the exact closed form exp(−q/2)·Σ(q/2)ⁱ/i!.
    *
    * Parity: differences are exact int64; deviations ride the q253
    * n-scaling trick (εₜ = n·dₜ − S is EXACT int64 — no float mean);
    * per-lag products Σεₜεₜ₋ₖ and the denominator Σεₜ² are exact
    * DECIMAL(38,0)/HUGEINT sums; ρ̂ₖ, Q and the tail are one identical
    * double chain, Q 4dp / p 1e-8-quantized (q216 discipline).
    *
    * Scale: the day census (~2,400 rows, CONSTANT in SF — only the
    * map-side day agg scans fact data); all six lags share ONE ordered
    * window pass via stack (the q208 one-sort trick); the 1-row totals
    * broadcast is the allowlisted BNLJ class. Guards: Σε² = 0
    * (constant diffs) or n < 10 → null Q/p. */
  def q275LjungBox(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val w = Window.orderBy("day")
    val diffs = daily(s, dir)
      .withColumn("dx", col("rev") - lag(col("rev"), 1).over(w))
      .filter(col("dx").isNotNull)
    val tot = diffs.agg(count(lit(1)).as("n"),
      sum(col("dx").cast(dec)).as("sx"))
    // census-sized (~2,400 rows) and read by BOTH the lag stack and the
    // denominator agg — the lazy checkpoint computes the daily agg +
    // diff window once and keeps the 1-row totals broadcast from
    // surfacing once per consumer subtree (q262's plan discipline)
    val eps = diffs.crossJoin(broadcast(tot))
      .select(col("day"), col("n"),
        (col("dx").cast(dec) * col("n").cast(dec) - col("sx")).as("e"))
      .localCheckpoint(eager = false)
    val withLags = eps.select(
      (Seq(col("n"), col("e")) ++ (1 to 6).map(k =>
        lag(col("e"), k).over(w).as(s"e$k"))): _*)
    val stackExpr = (1 to 6)
      .map(k => s"${k}L, e$k").mkString("stack(6, ", ", ", ")")
    val lagged = withLags
      .select(col("n"), col("e").as("y"), expr(s"$stackExpr as (lag, x)"))
    // denominator Σε² rides lag 1's rows plus its own head row, so sum
    // it from the eps census directly (one extra 1-row agg, no rescan:
    // eps is census-sized)
    val den = eps.agg(sum(col("e") * col("e")).as("see"),
      max(col("n")).as("nn"))
    val perLag = lagged.filter(col("x").isNotNull)
      .groupBy("lag").agg(sum(col("x") * col("y")).as("sxy"))
    // r16 libm-sum audit (adjacent class): the 6 per-lag terms are
    // IEEE-exact per term but were summed RAW — double addition is
    // order-sensitive, and engines visit the lag rows in different
    // orders. Quantize each term to 1e15 (terms ≤ 1/(nn−lag) ≤ 0.25,
    // so ≤ 2.5e14 fits long) so the sum is exact on both engines.
    val qSum = perLag.crossJoin(broadcast(den))
      .select(col("nn"), col("see"),
        Parity.quant((col("sxy").cast("double") / col("see").cast("double")) *
          (col("sxy").cast("double") / col("see").cast("double")) /
          (col("nn").cast("double") - col("lag").cast("double")), 1e15)
          .as("term15"))
      .groupBy("nn").agg(
        (sum(col("term15")).cast("double") / 1e15).as("tsum"),
        max(col("see")).as("see"))
    val q = col("nn").cast("double") * (col("nn").cast("double") + 2.0) *
      col("tsum")
    val p = exp(-q / 2.0) * (lit(1.0) + q / 2.0 + q * q / 8.0)
    qSum
      .select(col("nn").as("n_diffs"),
        when(col("see") <= 0 || col("nn") < 10, lit(null).cast("double"))
          .otherwise(round(q, 4) + 0.0).as("lb_q"),
        lit(6L).as("df"),
        when(col("see") <= 0 || col("nn") < 10, lit(null).cast("double"))
          .otherwise(Parity.fix(p, 8)).as("p"))
  }

  val q275LjungBoxSql: String =
    s"""WITH d AS ($dailySql),
       |df0 AS (
       |  SELECT day, rev - LAG(rev, 1) OVER (ORDER BY day) AS dx FROM d),
       |df AS (SELECT day, dx FROM df0 WHERE dx IS NOT NULL),
       |t AS (SELECT COUNT(*) AS n, SUM(CAST(dx AS HUGEINT)) AS sx FROM df),
       |e AS (
       |  SELECT day, t.n,
       |    CAST(dx AS HUGEINT) * t.n - t.sx AS e
       |  FROM df CROSS JOIN t),
       |den AS (SELECT SUM(e * e) AS see, MAX(n) AS nn FROM e),
       |wide AS (
       |  SELECT n, e,
       |    LAG(e, 1) OVER (ORDER BY day) AS e1,
       |    LAG(e, 2) OVER (ORDER BY day) AS e2,
       |    LAG(e, 3) OVER (ORDER BY day) AS e3,
       |    LAG(e, 4) OVER (ORDER BY day) AS e4,
       |    LAG(e, 5) OVER (ORDER BY day) AS e5,
       |    LAG(e, 6) OVER (ORDER BY day) AS e6
       |  FROM e),
       |lagged AS (
       |  SELECT e AS y, 1 AS lag, e1 AS x FROM wide
       |  UNION ALL SELECT e, 2, e2 FROM wide
       |  UNION ALL SELECT e, 3, e3 FROM wide
       |  UNION ALL SELECT e, 4, e4 FROM wide
       |  UNION ALL SELECT e, 5, e5 FROM wide
       |  UNION ALL SELECT e, 6, e6 FROM wide),
       |perlag AS (
       |  SELECT lag, SUM(x * y) AS sxy FROM lagged
       |  WHERE x IS NOT NULL GROUP BY lag),
       |qs AS (
       |  SELECT den.nn,
       |    CAST(SUM(CAST(FLOOR((CAST(sxy AS DOUBLE) / CAST(see AS DOUBLE))
       |      * (CAST(sxy AS DOUBLE) / CAST(see AS DOUBLE))
       |      / (CAST(nn AS DOUBLE) - CAST(lag AS DOUBLE))
       |      * 1e15 + 0.5) AS BIGINT)) AS DOUBLE) / 1e15 AS tsum,
       |    MAX(CAST(see AS DOUBLE)) AS seed
       |  FROM perlag CROSS JOIN den GROUP BY den.nn)
       |SELECT CAST(nn AS BIGINT) AS n_diffs,
       |  CASE WHEN seed <= 0 OR nn < 10 THEN NULL ELSE
       |    ROUND(CAST(nn AS DOUBLE) * (nn + 2.0) * tsum, 4) + 0 END AS lb_q,
       |  CAST(6 AS BIGINT) AS df,
       |  CASE WHEN seed <= 0 OR nn < 10 THEN NULL ELSE
       |    FLOOR(exp(-(CAST(nn AS DOUBLE) * (nn + 2.0) * tsum) / 2.0)
       |      * (1.0 + (nn * (nn + 2.0) * tsum) / 2.0
       |        + (nn * (nn + 2.0) * tsum) * (nn * (nn + 2.0) * tsum) / 8.0)
       |      * 1e8 + 0.5) / 1e8 END AS p
       |FROM qs""".stripMargin

  /** L223 spectral entropy of the daily-revenue series ([PK] Inouye et
    * al. 1991; Goerg 2013 for the forecastability reading): Shannon
    * entropy of the NORMALIZED periodogram over all Fourier
    * frequencies k = 1..⌊n/2⌋ — the "how forecastable is this series"
    * scalar that q266's three fixed periods cannot give (H_norm → 0:
    * one frequency carries everything, a pure cycle; → 1: white noise,
    * nothing to forecast). Also reports the peak period n/k*.
    *
    * Parity: the q266 kernel generalized — demeaned ε = rev·n − s in
    * exact DECIMAL, per-term cos/sin products floor-quantized /1e6,
    * per-frequency power (sc² + ss²) exact DECIMAL, shares p_k =
    * P_k/ΣP exact-integer ratios; each −p·ln p term floor-quantized
    * 1e-9 and int-summed. Peak k breaks power ties toward the lowest
    * frequency.
    *
    * Scale: the frequency explosion is census × ⌊n/2⌋ — bounded by
    * the SQUARE of the (time-span-bounded) daily census, never by the
    * corpus; one window over the ≤n/2-row power census. Guards: n < 4
    * or zero variance → null entropy. */
  def q290SpectralEntropy(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val e = graft.ops.PrefixSum.withPrefixSumsAndTotals(
      daily(s, dir).select(col("day"), col("rev")),
      Seq(col("day")), Seq((lit(1L), "rn")), Nil,
      Seq((lit(1L), "n"), (col("rev"), "s")))
      .select((col("rn") - 1).as("tt"), col("n"),
        (col("rev").cast(dec) * col("n").cast(dec) - col("s").cast(dec))
          .as("eps"))
    val ang = col("tt").cast("double") * col("k").cast("double") *
      (lit(2.0 * math.Pi) / col("n").cast("double"))
    val perK = e
      .select(col("*"), explode(when(col("n") >= 4L,
        sequence(lit(1L), (col("n") / lit(2L)).cast("long")))
        .otherwise(array().cast("array<bigint>"))).as("k"))
      .select(col("k"), col("n"),
        floor(col("eps").cast("double") * cos(ang) / 1e6 + 0.5)
          .cast("long").as("cq"),
        floor(col("eps").cast("double") * sin(ang) / 1e6 + 0.5)
          .cast("long").as("sq2"))
      .groupBy("k", "n")
      .agg(sum(col("cq")).as("sc"), sum(col("sq2")).as("ss"))
      .select(col("k"), col("n"),
        (col("sc").cast(dec) * col("sc").cast(dec) +
          col("ss").cast(dec) * col("ss").cast(dec)).as("pw"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val shared = perK
      .withColumn("tp", sum(col("pw")).over(w))
      .withColumn("nf", count(lit(1)).over(w))
      .withColumn("pmax", max(col("pw")).over(w))
    val p = col("pw").cast("double") / col("tp").cast("double")
    val g = shared
      .select(col("n"), col("nf"), col("tp"),
        when(col("pw") > 0L,
          Parity.quant(-p * log(p), 1e9)).otherwise(0L)
          .as("tq"),
        when(col("pw") === col("pmax"), col("k")).as("pk"))
      .groupBy("n", "nf", "tp")
      .agg(sum(col("tq")).as("hq"), min(col("pk")).as("peak_k"))
    val h = col("hq").cast("double") / 1e9
    val lnf = Parity.fix(log(col("nf").cast("double")), 9)
    val bad = col("tp") <= 0L || col("nf") < 2L
    g.select(col("n").as("n_days"), col("nf").as("n_freqs"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(h, 6) + 0.0).as("spectral_entropy"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(h / lnf, 6) + 0.0).as("h_norm"),
      when(bad, lit(null).cast("long")).otherwise(col("peak_k"))
        .as("peak_k"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(col("n").cast("double") /
          col("peak_k").cast("double"), 4) + 0.0).as("peak_period"))
  }

  val q290SpectralEntropySql: String =
    s"""WITH d AS ($dailySql),
       |r AS (SELECT ROW_NUMBER() OVER (ORDER BY day) - 1 AS tt, rev
       |      FROM d),
       |tot AS (SELECT COUNT(*) AS n, CAST(SUM(rev) AS BIGINT) AS s
       |        FROM r),
       |e AS (
       |  SELECT tt, n, CAST(rev AS HUGEINT) * n - s AS eps
       |  FROM r, tot),
       |f AS (
       |  SELECT tt, n, eps,
       |    unnest(generate_series(1,
       |      CASE WHEN n >= 4 THEN n // 2 ELSE 0 END)) AS k
       |  FROM e),
       |p1 AS (
       |  SELECT k, n,
       |    CAST(SUM(CAST(FLOOR(CAST(eps AS DOUBLE)
       |      * cos(CAST(tt AS DOUBLE) * CAST(k AS DOUBLE)
       |        * (2.0 * pi() / CAST(n AS DOUBLE))) / 1e6 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS sc,
       |    CAST(SUM(CAST(FLOOR(CAST(eps AS DOUBLE)
       |      * sin(CAST(tt AS DOUBLE) * CAST(k AS DOUBLE)
       |        * (2.0 * pi() / CAST(n AS DOUBLE))) / 1e6 + 0.5)
       |      AS BIGINT)) AS BIGINT) AS ss
       |  FROM f GROUP BY k, n),
       |p2 AS (
       |  SELECT k, n,
       |    CAST(sc AS HUGEINT) * sc + CAST(ss AS HUGEINT) * ss AS pw
       |  FROM p1),
       |sh AS (
       |  SELECT k, n, pw, SUM(pw) OVER () AS tp, COUNT(*) OVER () AS nf,
       |    MAX(pw) OVER () AS pmax
       |  FROM p2),
       |t AS (
       |  SELECT n, nf, tp,
       |    CASE WHEN pw > 0 THEN CAST(FLOOR(
       |      -(CAST(pw AS DOUBLE) / CAST(tp AS DOUBLE))
       |      * ln(CAST(pw AS DOUBLE) / CAST(tp AS DOUBLE)) * 1e9 + 0.5)
       |      AS BIGINT) ELSE 0 END AS tq,
       |    CASE WHEN pw = pmax THEN k END AS pk
       |  FROM sh),
       |g AS (
       |  SELECT n, CAST(nf AS BIGINT) AS nf, tp,
       |    CAST(SUM(tq) AS BIGINT) AS hq, MIN(pk) AS peak_k
       |  FROM t GROUP BY n, nf, tp)
       |SELECT n AS n_days, nf AS n_freqs,
       |  CASE WHEN tp <= 0 OR nf < 2 THEN NULL
       |    ELSE ROUND(CAST(hq AS DOUBLE) / 1e9, 6) + 0 END
       |    AS spectral_entropy,
       |  CASE WHEN tp <= 0 OR nf < 2 THEN NULL
       |    ELSE ROUND((CAST(hq AS DOUBLE) / 1e9)
       |      / (FLOOR(LN(CAST(nf AS DOUBLE)) * 1e9 + 0.5) / 1e9), 6) + 0
       |    END AS h_norm,
       |  CASE WHEN tp <= 0 OR nf < 2 THEN NULL
       |    ELSE CAST(peak_k AS BIGINT) END AS peak_k,
       |  CASE WHEN tp <= 0 OR nf < 2 THEN NULL
       |    ELSE ROUND(CAST(n AS DOUBLE) / peak_k, 4) + 0 END
       |    AS peak_period
       |FROM g""".stripMargin

  /** L224 sample entropy SampEn(m=2, r=0.2σ) of the last 365 daily
    * revenues ([PK] Richman & Moorman 2000): the regularity/complexity
    * scalar — the negative log conditional probability that two
    * observation windows matching for m=2 points (componentwise within
    * r) still match at the 3rd. Low SampEn = self-similar, repeating
    * dynamics; high = irregular. Complements q252 Hurst (long-range
    * dependence) and q290 spectral entropy (frequency spread) on the
    * same series; unlike approximate entropy it excludes self-matches,
    * so it is unbiased at this window size.
    *
    * Parity: the tolerance is pinned to INTEGER dollars r =
    * ⌊0.2σ̂+0.5⌋ (σ̂ from exact int moments, one deterministic double
    * chain + IEEE sqrt), so every template comparison is exact int64;
    * A and B are exact pair counts; SampEn = (qln B − qln A)/1e9 on
    * integer args (the q187 convention), 6dp.
    *
    * Scale: the 365-row recency cut and tolerance broadcasts hide
    * under the lazy checkpoint (q262 form); the one surfacing
    * nested-loop is the ≤364×364 broadcast pair build over the
    * embedded census — scale-constant work however large the corpus.
    * Guards: A = 0 or B = 0 → null SampEn (counts still reported). */
  def q292SampleEntropy(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d0 = graft.ops.PrefixSum.withPrefixSums(
      daily(s, dir).select(col("day"), col("rev")),
      Seq(col("day")), Seq((lit(1L), "rn")))
      .select(col("rn"), col("rev"))
      .localCheckpoint(eager = false)
    val nmax = d0.agg(max(col("rn")).as("nmax"))
    val rc = d0.crossJoin(broadcast(nmax))
      .filter(col("rn") > col("nmax") - 365L)
      .select(col("rn"), col("rev"))
    val st = rc.agg(count(lit(1)).as("nw"), sum(col("rev")).as("s"),
      sum(col("rev").cast(dec) * col("rev").cast(dec)).as("q"))
    val nD = col("nw").cast("double")
    val sd = sqrt(nD * col("q").cast("double") -
      col("s").cast("double") * col("s").cast("double")) / nD
    val rc2 = rc.crossJoin(broadcast(st))
      .select(col("rn"), col("rev"), col("nw"),
        floor(lit(0.2) * sd + 0.5).cast("long").as("rl"))
      .localCheckpoint(eager = false)
    val wo = Window.orderBy("rn")
    // r14 (advisor fix): Richman–Moorman counts BOTH A and B over the
    // same N−m templates — restricting to rows with x2 keeps the last
    // window (which could only ever B-match) out of the B census, so
    // the two counts share a template set and SampEn loses its slight
    // upward bias. The brute reference in StatBruteSpec is re-pinned
    // to the same N−2 walk.
    val emb = rc2
      .withColumn("x1", lead(col("rev"), 1).over(wo))
      .withColumn("x2", lead(col("rev"), 2).over(wo))
      .filter(col("x1").isNotNull && col("x2").isNotNull)
      .withColumnRenamed("rev", "x0")
    val bm = abs(col("a.x0") - col("b.x0")) <= col("a.rl") &&
      abs(col("a.x1") - col("b.x1")) <= col("a.rl")
    val am = bm && abs(col("a.x2") - col("b.x2")) <= col("a.rl")
    val g = emb.as("a").join(broadcast(emb.as("b")),
        col("a.rn") < col("b.rn"))
      .agg(max(col("a.nw")).as("n_days"), max(col("a.rl")).as("r_dollars"),
        sum(when(bm, 1L).otherwise(0L)).as("b_pairs"),
        sum(when(am, 1L).otherwise(0L)).as("a_pairs"))
    def qln9(c: Column) =
      Parity.quant(log(c.cast("double")), 1e9)
    g.select(col("n_days"), col("r_dollars"), col("b_pairs"),
      col("a_pairs"),
      when(col("a_pairs") === 0L || col("b_pairs") === 0L,
        lit(null).cast("double"))
        .otherwise(round((qln9(col("b_pairs")) - qln9(col("a_pairs")))
          .cast("double") / 1e9, 6) + 0.0).as("sampen"))
  }

  val q292SampleEntropySql: String =
    s"""WITH d AS ($dailySql),
       |r0 AS (SELECT ROW_NUMBER() OVER (ORDER BY day) AS rn, rev FROM d),
       |rc AS (SELECT rn, rev FROM r0
       |  WHERE rn > (SELECT MAX(rn) FROM r0) - 365),
       |st AS (SELECT COUNT(*) AS nw, CAST(SUM(rev) AS BIGINT) AS s,
       |  SUM(CAST(rev AS HUGEINT) * rev) AS q FROM rc),
       |rc2 AS (
       |  SELECT rn, rev, nw,
       |    CAST(FLOOR(0.2 * (SQRT(CAST(nw AS DOUBLE) * CAST(q AS DOUBLE)
       |      - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)) / CAST(nw AS DOUBLE))
       |      + 0.5) AS BIGINT) AS rl
       |  FROM rc, st),
       |emb AS (
       |  SELECT rn, rev AS x0, nw, rl,
       |    LEAD(rev, 1) OVER (ORDER BY rn) AS x1,
       |    LEAD(rev, 2) OVER (ORDER BY rn) AS x2
       |  FROM rc2),
       |m AS (SELECT * FROM emb WHERE x1 IS NOT NULL AND x2 IS NOT NULL),
       |p AS (
       |  SELECT a.nw, a.rl,
       |    CASE WHEN ABS(a.x0 - b.x0) <= a.rl AND ABS(a.x1 - b.x1) <= a.rl
       |      THEN 1 ELSE 0 END AS bm,
       |    CASE WHEN ABS(a.x0 - b.x0) <= a.rl AND ABS(a.x1 - b.x1) <= a.rl
       |      AND ABS(a.x2 - b.x2) <= a.rl THEN 1 ELSE 0 END AS am
       |  FROM m a JOIN m b ON a.rn < b.rn),
       |g AS (
       |  SELECT CAST(MAX(nw) AS BIGINT) AS n_days,
       |    CAST(MAX(rl) AS BIGINT) AS r_dollars,
       |    CAST(SUM(bm) AS BIGINT) AS b_pairs,
       |    CAST(SUM(am) AS BIGINT) AS a_pairs
       |  FROM p)
       |SELECT n_days, r_dollars, b_pairs, a_pairs,
       |  CASE WHEN a_pairs = 0 OR b_pairs = 0 THEN NULL
       |    ELSE ROUND(CAST(CAST(FLOOR(LN(CAST(b_pairs AS DOUBLE)) * 1e9
       |        + 0.5) AS BIGINT)
       |      - CAST(FLOOR(LN(CAST(a_pairs AS DOUBLE)) * 1e9 + 0.5)
       |        AS BIGINT) AS DOUBLE) / 1e9, 6) + 0 END AS sampen
       |FROM g""".stripMargin
}
