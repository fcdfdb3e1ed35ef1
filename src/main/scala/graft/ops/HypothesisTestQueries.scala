package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import StatFns.{asTwoSidedP, asTwoSidedPSql}

/** Hypothesis-test operators, split out of CurationQueries in round 12
  * (the file had grown past 3,900 lines — review and merge locality).
  * Since round 15 this file holds the CONTINGENCY-TABLE, changepoint,
  * goodness-of-fit, and multiple-testing members (χ², odds ratios,
  * Mantel–Haenszel, McNemar, Cochran–Armitage, Pettitt, BH FDR,
  * Cramér–von Mises, normal-fit KS, Jarque–Bera); the location /
  * scale / rank group-comparison tests moved to [[LocationTests]]
  * along the same seam as the round-14 SeriesStats split. Every member
  * keeps the discipline it shipped with: a DuckDB mirror built from the
  * same census algebra, a StatBruteSpec sequential reference, and a
  * NonDegeneracySpec invariant. All collapse fact data map-side to
  * value/group censuses before any window or join (the q210/q147
  * shape), so nothing here scans more than once or sorts fact-sized
  * data on one partition.
  */
object HypothesisTestQueries {
  /** L124 chi-square test of independence (Pearson [PK]) on the
    * lang × source contingency table — "is the language mix the same
    * across sources?", the categorical-association readout the family
    * still lacked: q172 tests ONE proportion pair, q183 agreement on a
    * shared key, q146/q185 continuous/vocab distributions; this is the
    * R×C categorical test plus its effect size (Cramér's V), the
    * standard screen before stratifying a training mix by (source,
    * lang).
    *
    * Includes EMPTY cells: the grid is the cross join of the observed
    * margins (R×C ≤ 100 rows), left-joined with observed counts, so a
    * source with zero docs in some language still contributes its
    * (0−E)²/E term — dropping those understates χ² exactly where the
    * association is strongest.
    *
    * Parity: O and margins are exact int64; each cell's term is
    * quantized once to micro-units before the integer SUM (q185
    * discipline); χ² and V are then one fixed int→double chain, and
    * sqrt is IEEE-correctly-rounded in both engines.
    *
    * Scale: three map-side-combinable counts over the corpus plus a
    * ≤|langs|·|sources| driver-free grid agg. The two margin counts
    * broadcast; nothing shuffles more than the (lang, source) census. */
  def q186Chi2(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val obs = d.groupBy("lang", "source").agg(count(lit(1)).as("o"))
    val langs = d.groupBy("lang").agg(count(lit(1)).as("rl"))
    // N rides the |sources|-row margin via a tiny window (Σcs = N), so
    // the plan needs exactly ONE deliberate broadcast cross join — the
    // R×C grid — and no one-row join (PLANS.md BNLJ allowlist).
    val srcs = d.groupBy("source").agg(count(lit(1)).as("cs"))
      .withColumn("n", sum(col("cs")).over(Window.partitionBy()))
    val grid = broadcast(langs).crossJoin(broadcast(srcs))
      .join(obs, Seq("lang", "source"), "left")
      .na.fill(0L, Seq("o"))
    val e = (col("rl") * col("cs")).cast("double") / col("n").cast("double")
    val dev = col("o").cast("double") - e
    grid
      .select(col("lang"), col("source"), col("n"),
        Parity.quant(dev * dev / e, 1e6).as("cq"))
      .agg(max(col("n")).as("n_docs"),
        countDistinct(col("lang")).as("r"),
        countDistinct(col("source")).as("c"),
        sum("cq").as("sq"))
      .select(
        col("n_docs"),
        ((col("r") - 1L) * (col("c") - 1L)).as("df"),
        (col("sq").cast("double") / lit(1.0e6)).as("chi2"),
        sqrt((col("sq").cast("double") / lit(1.0e6)) /
          (col("n_docs") * least(col("r") - 1L, col("c") - 1L)).cast("double"))
          .as("cramers_v"))
  }

  val q186Chi2Sql: String =
    s"""WITH obs AS (
      |  SELECT lang, source, COUNT(*) AS o FROM documents GROUP BY 1, 2),
      |l AS (SELECT lang, COUNT(*) AS rl FROM documents GROUP BY 1),
      |s AS (SELECT source, COUNT(*) AS cs,
      |             CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n
      |      FROM documents GROUP BY 1),
      |grid AS (
      |  SELECT l.lang, s.source, rl, cs, n, COALESCE(o, 0) AS o
      |  FROM l CROSS JOIN s
      |  LEFT JOIN obs ON obs.lang = l.lang AND obs.source = s.source),
      |q AS (
      |  SELECT lang, source, n,
      |    ${Parity.quantSql("(CAST(o AS DOUBLE) - CAST(rl * cs AS DOUBLE) / CAST(n" +
                             " AS DOUBLE))" +
                             " * (CAST(o AS DOUBLE) - CAST(rl * cs AS DOUBLE) / CAST(n" +
                             " AS DOUBLE))" +
                             " / (CAST(rl * cs AS DOUBLE) / CAST(n AS DOUBLE))", 6)}
      |      AS cq
      |  FROM grid),
      |a AS (SELECT MAX(n) AS n_docs, COUNT(DISTINCT lang) AS r,
      |             COUNT(DISTINCT source) AS c, CAST(SUM(cq) AS BIGINT) AS sq
      |      FROM q)
      |SELECT n_docs, (r - 1) * (c - 1) AS df,
      |  CAST(sq AS DOUBLE) / 1e6 AS chi2,
      |  sqrt((CAST(sq AS DOUBLE) / 1e6)
      |    / CAST(n_docs * LEAST(r - 1, c - 1) AS DOUBLE)) AS cramers_v
      |FROM a""".stripMargin

  /** L150 Benjamini–Hochberg FDR control over a family of per-source
    * composition tests (Benjamini & Hochberg 1995 [PK]): each corpus
    * source's share of English documents vs the five-language uniform
    * design null p₀ = 0.2 (one-sample z), two-sided p via the
    * classical Abramowitz–Stegun 26.2.17 polynomial normal CDF
    * (|ε| < 7.5·10⁻⁸ — the p VALUE is defined as this approximation,
    * identically on both engines), then the BH step-up: reject the k
    * smallest p-values where p₍ₖ₎ ≤ α·k/m, α = 0.05. The
    * multiple-comparisons discipline q172's single test doesn't need
    * but any per-segment screen (q146/q186) does.
    *
    * Round 11 de-vacuification (the q175 lesson): the original family
    * tested per-brand high-quantity shares against the POOLED rate —
    * a null that is TRUE by fixture construction, so the step-up
    * rejected nothing at any SF (the machinery was hash-green while
    * never once stepping up). English is construction-boosted to
    * ~0.4 of the corpus, so per-source tests against the uniform
    * design spec carry genuine sparse signal: 10 / 14 / 20 of ~20
    * sources rejected at sf0.001/0.01/0.1 (measured, pinned by
    * NonDegeneracySpec) — the adaptive threshold does real work.
    *
    * Parity: z is a double chain from exact int64 counts; p quantizes
    * to int64 1e-8 units BEFORE every BH comparison, so the step-up
    * decision pq·m ≤ 5·10⁶·k is pure integer — a 1-ulp exp()
    * divergence moves p by ~10⁻¹⁶ and cannot flip a 1e-8-quantized
    * threshold unless p sits within 10⁻¹⁶ of a boundary (the q196
    * accepted-residual class, documented there).
    *
    * Scale: one map-side-combinable source census (≤20 rows); every
    * window below it runs over that census. */
  def q216BhFdr(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("x"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val p0 = lit(0.2)
    val zv = (col("x").cast("double") / col("n") - p0) /
      sqrt(p0 * (lit(1.0) - p0) / col("n"))
    val p = g.withColumn("zv", zv)
      .withColumn("pq", Parity.quant(asTwoSidedP(col("zv")), 1e8))
    val wRank = Window.orderBy(col("pq"), col("source"))
    val r = p.withColumn("rk", row_number().over(wRank))
      .withColumn("m", count(lit(1)).over(wAll))
      .withColumn("cutoff",
        max(when(col("pq") * col("m") <= col("rk") * 5000000L, col("rk"))
          .otherwise(0L)).over(wAll))
    r.select(col("source"), col("n"), col("x"),
      (round(col("zv"), 4) + 0.0).as("z"),
      (col("pq").cast("double") / 1e8).as("p"),
      col("rk"),
      when(col("rk") <= col("cutoff"), 1).otherwise(0).as("significant"))
      .orderBy("rk")
  }

  val q216BhFdrSql: String =
    s"""WITH g AS (
      |  SELECT source, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS x
      |  FROM documents
      |  GROUP BY 1),
      |z AS (
      |  SELECT source, n, x,
      |    (CAST(x AS DOUBLE) / n - 0.2)
      |      / SQRT(0.2 * (1.0 - 0.2) / n) AS zv
      |  FROM g),
      |p AS (
      |  SELECT source, n, x, zv,
      |    ${Parity.quantSql(asTwoSidedPSql("zv"), 8)} AS pq
      |  FROM z),
      |r AS (
      |  SELECT source, n, x, zv, pq,
      |    ROW_NUMBER() OVER (ORDER BY pq, source) AS rk,
      |    COUNT(*) OVER () AS m
      |  FROM p),
      |c AS (
      |  SELECT *, MAX(CASE WHEN pq * m <= 5000000 * rk THEN rk ELSE 0 END)
      |    OVER () AS cutoff
      |  FROM r)
      |SELECT source, n, x, ROUND(zv, 4) + 0 AS z,
      |  CAST(pq AS DOUBLE) / 1e8 AS p, rk,
      |  CAST(CASE WHEN rk <= cutoff THEN 1 ELSE 0 END AS INT) AS significant
      |FROM c ORDER BY rk""".stripMargin

  /** L159 odds ratio + Woolf 95% CI per brand (Woolf 1955 [PK]): the
    * 2×2 association readout — odds of a high-quantity lineitem for
    * the brand vs all other brands, with the log-scale confidence
    * interval ln OR ± 1.96·√(1/a+1/b+1/c+1/d). The effect-SIZE
    * companion to q216's BH-FDR decisions (a tiny p with OR ≈ 1 is
    * noise at scale; the CI says so), and the classic epidemiology/
    * feature-association primitive.
    *
    * Parity: the 2×2 cells a/b/c/d are exact int64 from one census
    * (the "rest" margin = windowed total − brand row, no second
    * scan); OR and the CI bounds are single double chains, 4dp. The
    * ln/exp pair sits in the q196 accepted-residual class.
    *
    * Scale: one map-side-combinable brand census; windows over ≤25
    * rows. */
  /** L288 risk ratio with Katz log CI ([PK] Katz et al. 1978): the
    * probability-scale sibling of q225's odds ratio on the SAME
    * brand × heavy-quantity 2×2 censuses — RR = [a/(a+b)]/[c/(c+d)],
    * SE(ln RR) = √(1/a − 1/(a+b) + 1/c − 1/(c+d)). OR overstates RR
    * whenever the outcome is common (here "heavy line" is ~40% — the
    * regime where the distinction matters); reporting the pair makes
    * the divergence visible per brand.
    *
    * Parity: the 2×2 census is exact int64 (the q225 shape); RR and
    * the SE are one double chain from exact ints; ONE terminal
    * ln/exp on an identical argument per bound (the q225 precedent —
    * no accumulated libm drift, checklist item 8's exempt case). 4dp.
    *
    * Scale: the q225 plan — one broadcast-dim join, one ≤25-row brand
    * census, window totals over it. */
  def q354RiskRatio(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(col("l_quantity") >= 30, 1L).otherwise(0L)).as("a"),
        sum(when(col("l_quantity") >= 30, 0L).otherwise(1L)).as("b"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("c", sum(col("a")).over(wAll) - col("a"))
      .withColumn("d", sum(col("b")).over(wAll) - col("b"))
    def f(c: Column) = c.cast("double")
    val rr = (f(col("a")) / (f(col("a")) + f(col("b")))) /
      (f(col("c")) / (f(col("c")) + f(col("d"))))
    val se = sqrt(lit(1.0) / col("a") -
      lit(1.0) / (f(col("a")) + f(col("b"))) +
      lit(1.0) / col("c") - lit(1.0) / (f(col("c")) + f(col("d"))))
    val bad = col("a") === 0L || col("c") === 0L
    t.select(col("brand"), col("a"), col("b"), col("c"), col("d"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.rnd(rr, 4) + 0.0).as("risk_ratio"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.rnd(exp(log(rr) - lit(1.96) * se), 4) + 0.0)
          .as("ci_lo"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.rnd(exp(log(rr) + lit(1.96) * se), 4) + 0.0)
          .as("ci_hi"))
      .orderBy("brand")
  }

  val q354RiskRatioSql: String = {
    val rr = "(CAST(a AS DOUBLE) / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE)))" +
      " / (CAST(c AS DOUBLE) / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))"
    val se = "SQRT(1.0 / a - 1.0 / (CAST(a AS DOUBLE) + CAST(b AS DOUBLE))" +
      " + 1.0 / c - 1.0 / (CAST(c AS DOUBLE) + CAST(d AS DOUBLE)))"
    s"""WITH g AS (
      |  SELECT p_brand AS brand,
      |    CAST(SUM(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN l_quantity >= 30 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |t AS (
      |  SELECT brand, a, b,
      |    CAST(SUM(a) OVER () AS BIGINT) - a AS c,
      |    CAST(SUM(b) OVER () AS BIGINT) - b AS d
      |  FROM g)
      |SELECT brand, a, b, c, d,
      |  CASE WHEN a = 0 OR c = 0 THEN NULL
      |    ELSE ROUND($rr, 4) + 0 END AS risk_ratio,
      |  CASE WHEN a = 0 OR c = 0 THEN NULL
      |    ELSE ROUND(exp(ln($rr) - 1.96 * $se), 4) + 0 END AS ci_lo,
      |  CASE WHEN a = 0 OR c = 0 THEN NULL
      |    ELSE ROUND(exp(ln($rr) + 1.96 * $se), 4) + 0 END AS ci_hi
      |FROM t ORDER BY brand""".stripMargin
  }

  def q225OddsRatio(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand").as("brand"))
      .agg(sum(when(col("l_quantity") >= 30, 1L).otherwise(0L)).as("a"),
        sum(when(col("l_quantity") >= 30, 0L).otherwise(1L)).as("b"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("c", sum(col("a")).over(wAll) - col("a"))
      .withColumn("d", sum(col("b")).over(wAll) - col("b"))
    val orr = (col("a").cast("double") * col("d")) /
      (col("b").cast("double") * col("c"))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    t.select(col("brand"), col("a"), col("b"), col("c"), col("d"),
        (round(orr, 4) + 0.0).as("odds_ratio"),
        (round(exp(log(orr) - lit(1.96) * se), 4) + 0.0).as("ci_lo"),
        (round(exp(log(orr) + lit(1.96) * se), 4) + 0.0).as("ci_hi"))
      .orderBy("brand")
  }

  val q225OddsRatioSql: String =
    """WITH g AS (
      |  SELECT p_brand AS brand,
      |    CAST(SUM(CASE WHEN l_quantity >= 30 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS a,
      |    CAST(SUM(CASE WHEN l_quantity >= 30 THEN 0 ELSE 1 END) AS BIGINT)
      |      AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1),
      |t AS (
      |  SELECT brand, a, b,
      |    CAST(SUM(a) OVER () AS BIGINT) - a AS c,
      |    CAST(SUM(b) OVER () AS BIGINT) - b AS d
      |  FROM g)
      |SELECT brand, a, b, c, d,
      |  ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 4) + 0
      |    AS odds_ratio,
      |  ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
      |    - 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 4) + 0
      |    AS ci_lo,
      |  ROUND(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
      |    + 1.96 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 4) + 0
      |    AS ci_hi
      |FROM t ORDER BY brand""".stripMargin

  /** L160 Pettitt changepoint test (Pettitt 1979 [PK]): the rank-based
    * single-changepoint locator over the daily revenue series —
    * U_t = 2·Σ_{i≤t} r_i − t(n+1), K = max|U_t|, with the classical
    * significance approximation p ≈ 2·exp(−6K²/(n³+n²)). The
    * distribution-free companion to q148's CUSUM (which needs a known
    * in-control mean): Pettitt asks WHERE the level shifted without
    * assuming any distribution.
    *
    * Parity: ranks are exact (doubled-unit average ranks over the day
    * census — 2·r̄ is an integer even under ties, the q210 discipline),
    * so every U_t is exact int64; K and its argmax day are integer
    * decisions; only the displayed p is a double chain, 6dp.
    *
    * Scale: the series is the scale-constant day census; the rank and
    * prefix windows run over it (at fact scale the same ranks come
    * from [[RangedNtile]]/[[PrefixSum]]). */
  def q226Pettitt(s: SparkSession, dir: String): DataFrame = {
    val d = SeriesStats.daily(s, dir)
    // doubled average ranks via the census trick: rows with equal rev
    // share rank (2·cum − n + 1) in doubled units
    val cen = d.groupBy("rev").agg(count(lit(1)).as("n"))
    val wV = Window.orderBy("rev")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r2 = cen.withColumn("cum", sum(col("n")).over(wV))
      .select(col("rev"), (col("cum") * 2 - col("n") + 1).as("r2"))
    val wT = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val u = d.join(r2, "rev")
      .withColumn("t", count(lit(1)).over(wT))
      .withColumn("s2", sum(col("r2")).over(wT))
      .withColumn("nn", count(lit(1)).over(wAll))
      // s2 = Σ 2r̄_i exactly, so s2 − t(n+1) IS the standard
      // U_t = 2Σr_i − t(n+1) — integer even under tied (x.5) ranks
      .withColumn("ut", col("s2") - col("t") * (col("nn") + 1))
      .withColumn("k", max(abs(col("ut"))).over(wAll))
    u.filter(abs(col("ut")) === col("k"))
      .orderBy("day").limit(1)
      .select(col("day").as("change_day"), col("k").as("k_stat"),
        col("nn").as("n_days"),
        (round(
          exp(lit(-6.0) * col("k").cast("double") * col("k") /
            (col("nn").cast("double") * col("nn") * col("nn") +
              col("nn").cast("double") * col("nn"))) * 2.0, 6) + 0.0)
          .as("p_approx"))
  }

  val q226PettittSql: String =
    s"""WITH d AS (
      |  ${SeriesStats.dailySql}),
      |cen AS (SELECT rev, COUNT(*) AS n FROM d GROUP BY rev),
      |r2 AS (
      |  SELECT rev,
      |    2 * SUM(n) OVER (ORDER BY rev ROWS UNBOUNDED PRECEDING)
      |      - n + 1 AS r2
      |  FROM cen),
      |u AS (
      |  SELECT day,
      |    COUNT(*) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS t,
      |    SUM(r2) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS s2,
      |    COUNT(*) OVER () AS nn
      |  FROM d JOIN r2 USING (rev)),
      |v AS (
      |  SELECT day, CAST(s2 - t * (nn + 1) AS BIGINT) AS ut, nn,
      |    MAX(abs(s2 - t * (nn + 1))) OVER () AS k
      |  FROM u)
      |SELECT day AS change_day, CAST(k AS BIGINT) AS k_stat,
      |  CAST(nn AS BIGINT) AS n_days,
      |  ROUND(exp(-6.0 * CAST(k AS DOUBLE) * k
      |    / (CAST(nn AS DOUBLE) * nn * nn + CAST(nn AS DOUBLE) * nn))
      |    * 2.0, 6) + 0 AS p_approx
      |FROM v WHERE abs(ut) = k
      |ORDER BY day LIMIT 1""".stripMargin

  /** L163 Mantel–Haenszel pooled odds ratio (Mantel & Haenszel 1959
    * [PK]): the stratified 2×2 combiner — per market segment, the
    * association between URGENT priority (exposure) and high order
    * value (outcome), pooled as OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ). The
    * confounding-aware companion to q225: a marginal OR can invert
    * (Simpson, cf. q64's paradox demo) when strata differ; MH pools
    * WITHIN strata.
    *
    * Parity: the 2×2 cells per stratum are exact int64; each
    * stratum's ad/n and bc/n terms are pinned to int64 micro-units by
    * one floor(1e6·x+0.5) chain before the cross-stratum sums (q224
    * discipline); the pooled ratio is one double division, 4dp.
    *
    * Scale: one map-side-combinable (segment) census; ≤5-row algebra
    * + windows. */
  def q229MantelHaenszel(s: SparkSession, dir: String): DataFrame = {
    val o = LocationTests.segmentOrders(s, dir)
      .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
      .select(col("c_mktsegment").as("seg"),
        (col("o_orderpriority") === "1-URGENT").as("exp"),
        (col("o_totalprice") >= 200000.0).as("hi"))
    val g = o.groupBy("seg").agg(
      sum(when(col("exp") && col("hi"), 1L).otherwise(0L)).as("a"),
      sum(when(col("exp") && !col("hi"), 1L).otherwise(0L)).as("b"),
      sum(when(!col("exp") && col("hi"), 1L).otherwise(0L)).as("c"),
      sum(when(!col("exp") && !col("hi"), 1L).otherwise(0L)).as("d"))
    val n = (col("a") + col("b") + col("c") + col("d")).cast("double")
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("adq",
        Parity.quant(col("a").cast("double") * col("d") / n, 1e6))
      .withColumn("bcq",
        Parity.quant(col("b").cast("double") * col("c") / n, 1e6))
      .withColumn("sad", sum(col("adq")).over(wAll))
      .withColumn("sbc", sum(col("bcq")).over(wAll))
    // fuzz hardening (r12): a zero off-diagonal leaves the stratum OR
    // (and sbc = 0 the pooled OR) undefined — null, not a crash
    t.select(col("seg").as("c_mktsegment"),
        col("a"), col("b"), col("c"), col("d"),
        when(col("b") * col("c") === 0, lit(null).cast("double"))
          .otherwise(round(col("a").cast("double") * col("d") /
            (col("b").cast("double") * col("c")), 4) + 0.0)
          .as("or_stratum"),
        when(col("sbc") === 0, lit(null).cast("double"))
          .otherwise(round(col("sad").cast("double") /
            col("sbc").cast("double"), 4) + 0.0).as("or_mh"))
      .orderBy("c_mktsegment")
  }

  val q229MantelHaenszelSql: String =
    s"""WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    o_orderpriority = '1-URGENT' AS expo,
      |    o_totalprice >= 200000.0 AS hi
      |  ${LocationTests.segmentOrdersSql}
      |  WHERE o_orderpriority IN ('1-URGENT', '5-LOW')),
      |g AS (
      |  SELECT seg,
      |    CAST(SUM(CASE WHEN expo AND hi THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(SUM(CASE WHEN expo AND NOT hi THEN 1 ELSE 0 END) AS BIGINT)
      |      AS b,
      |    CAST(SUM(CASE WHEN NOT expo AND hi THEN 1 ELSE 0 END) AS BIGINT)
      |      AS c,
      |    CAST(SUM(CASE WHEN NOT expo AND NOT hi THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM o GROUP BY seg),
      |t AS (
      |  SELECT seg, a, b, c, d,
      |    ${Parity.quantSql("CAST(a AS DOUBLE) * d / CAST(a + b + c + d AS DOUBLE)", 6)}
      |      AS adq,
      |    ${Parity.quantSql("CAST(b AS DOUBLE) * c / CAST(a + b + c + d AS DOUBLE)", 6)}
      |      AS bcq
      |  FROM g),
      |t2 AS (
      |  SELECT *, CAST(SUM(adq) OVER () AS BIGINT) AS sad,
      |    CAST(SUM(bcq) OVER () AS BIGINT) AS sbc
      |  FROM t)
      |SELECT seg AS c_mktsegment, a, b, c, d,
      |  CASE WHEN b * c = 0 THEN NULL ELSE
      |    ROUND(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 4) + 0
      |    END AS or_stratum,
      |  CASE WHEN sbc = 0 THEN NULL ELSE
      |    ROUND(CAST(sad AS DOUBLE) / CAST(sbc AS DOUBLE), 4) + 0
      |    END AS or_mh
      |FROM t2 ORDER BY seg""".stripMargin

  /** L167 McNemar's paired test (McNemar 1947 [PK], continuity-
    * corrected): per customer, the paired binary traits "ever placed an
    * URGENT order" vs "ever placed a 5-LOW order" — marginal
    * homogeneity decided ONLY by the discordant cells,
    * χ² = (|b−c|−1)²/(b+c). The paired complement to q172's
    * independent-samples z (independent tests are WRONG for paired
    * designs — this is the one to reach for).
    *
    * Parity: the 2×2 is an exact int64 census; χ² is one double chain
    * 4dp; p rides the A-S polynomial on √χ², quantized 1e-8 (q216
    * discipline).
    *
    * Scale: one map-side-combinable per-customer agg (bool_or is
    * max-combinable) → one 1-row census. */
  def q233McNemar(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.orders(s, dir)
      .groupBy("o_custkey")
      .agg(max(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0))
        .as("u"),
        max(when(col("o_orderpriority") === "5-LOW", 1).otherwise(0))
          .as("l"))
    val cen = per.agg(
      sum(when(col("u") === 1 && col("l") === 1, 1L).otherwise(0L)).as("a"),
      sum(when(col("u") === 1 && col("l") === 0, 1L).otherwise(0L)).as("b"),
      sum(when(col("u") === 0 && col("l") === 1, 1L).otherwise(0L)).as("c"),
      sum(when(col("u") === 0 && col("l") === 0, 1L).otherwise(0L)).as("d"))
    val chi = pow(abs(col("b") - col("c")).cast("double") - lit(1.0), 2) /
      (col("b") + col("c")).cast("double")
    cen.select(col("a"), col("b"), col("c"), col("d"),
      (round(chi, 4) + 0.0).as("chi2_cc"),
      Parity.fix(asTwoSidedP(sqrt(chi)), 8).as("p"))
  }

  val q233McNemarSql: String = {
    val chi = "(POWER(abs(b - c) - 1.0, 2) / CAST(b + c AS DOUBLE))"
    s"""WITH per AS (
       |  SELECT o_custkey,
       |    MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
       |      AS u,
       |    MAX(CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS l
       |  FROM orders GROUP BY 1),
       |cen AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN u = 1 AND l = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS a,
       |    CAST(SUM(CASE WHEN u = 1 AND l = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS b,
       |    CAST(SUM(CASE WHEN u = 0 AND l = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS c,
       |    CAST(SUM(CASE WHEN u = 0 AND l = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |      AS d
       |  FROM per)
       |SELECT a, b, c, d,
       |  ROUND($chi, 4) + 0 AS chi2_cc,
       |  ${Parity.fixSql(asTwoSidedPSql(s"SQRT($chi)"), 8)} AS p
       |FROM cen""".stripMargin
  }

  /** L168 Cochran–Armitage trend test (Cochran 1954, Armitage 1955
    * [PK]): is the high-value-order rate monotone across the FIVE
    * ORDERED priority levels (scores 1..5 from the priority prefix)?
    * z = Σsᵢ(xᵢ − nᵢp̄) / √(p̄(1−p̄)(Σnᵢsᵢ² − (Σnᵢsᵢ)²/N)) — the
    * dose-response test a flat chi-square (q186) can't see direction
    * in.
    *
    * Parity: the per-level (nᵢ, xᵢ) census and all score sums are
    * exact int64 (scores are literal ints); z is one double chain; p
    * rides A-S quantized 1e-8 (q216 discipline).
    *
    * Scale: one map-side-combinable 5-row census; the trend algebra
    * runs over that census via an unpartitioned window of 5 rows. */
  def q234CochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("sc"),
        col("o_orderpriority").as("priority"),
        when(col("o_totalprice") >= 200000.0, 1L).otherwise(0L).as("hi"))
    val g = o.groupBy("sc", "priority")
      .agg(count(lit(1)).as("n_i"), sum(col("hi")).as("x_i"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("nt", sum(col("n_i")).over(wAll))
      .withColumn("xt", sum(col("x_i")).over(wAll))
      .withColumn("ssx", sum(col("sc") * col("x_i")).over(wAll))
      .withColumn("ssn", sum(col("sc") * col("n_i")).over(wAll))
      .withColumn("ss2n", sum(col("sc") * col("sc") * col("n_i")).over(wAll))
    val pBar = col("xt").cast("double") / col("nt")
    val tNum = col("ssx").cast("double") - pBar * col("ssn")
    val tVar = pBar * (lit(1.0) - pBar) *
      (col("ss2n").cast("double") -
        col("ssn").cast("double") * col("ssn") / col("nt"))
    // fuzz hardening (r12): an all-0 or all-1 outcome (or a single
    // score level) zeroes the trend variance — z undefined, not a crash
    val z = when(tVar <= 0.0, lit(null).cast("double"))
      .otherwise(tNum / sqrt(tVar))
    t.select(col("priority"), col("sc").as("score"), col("n_i"), col("x_i"),
        (round(col("x_i").cast("double") / col("n_i"), 4) + 0.0).as("rate"),
        (round(z, 4) + 0.0).as("z_trend"),
        Parity.fix(asTwoSidedP(z), 8).as("p"))
      .orderBy("score")
  }

  val q234CochranArmitageSql: String = {
    val tv = "(pbar * (1.0 - pbar)" +
      " * (CAST(ss2n AS DOUBLE) - CAST(ssn AS DOUBLE) * ssn / nt))"
    val z = s"(CASE WHEN $tv <= 0.0 THEN NULL ELSE" +
      s" ((CAST(ssx AS DOUBLE) - pbar * ssn) / SQRT($tv)) END)"
    s"""WITH o AS (
       |  SELECT CAST(SUBSTRING(o_orderpriority, 1, 1) AS BIGINT) AS sc,
       |    o_orderpriority AS priority,
       |    CASE WHEN o_totalprice >= 200000.0 THEN 1 ELSE 0 END AS hi
       |  FROM orders),
       |g AS (
       |  SELECT sc, priority, COUNT(*) AS n_i,
       |    CAST(SUM(hi) AS BIGINT) AS x_i
       |  FROM o GROUP BY 1, 2),
       |t AS (
       |  SELECT *, CAST(SUM(n_i) OVER () AS BIGINT) AS nt,
       |    CAST(SUM(x_i) OVER () AS BIGINT) AS xt,
       |    CAST(SUM(sc * x_i) OVER () AS BIGINT) AS ssx,
       |    CAST(SUM(sc * n_i) OVER () AS BIGINT) AS ssn,
       |    CAST(SUM(sc * sc * n_i) OVER () AS BIGINT) AS ss2n
       |  FROM g),
       |t2 AS (SELECT *, CAST(xt AS DOUBLE) / nt AS pbar FROM t)
       |SELECT priority, sc AS score, n_i, x_i,
       |  ROUND(CAST(x_i AS DOUBLE) / n_i, 4) + 0 AS rate,
       |  ROUND($z, 4) + 0 AS z_trend,
       |  ${Parity.fixSql(asTwoSidedPSql(z), 8)} AS p
       |FROM t2 ORDER BY score""".stripMargin
  }

  /** L189 normal-fit KS (Lilliefors-style distance; Lilliefors 1967
    * [PK]): the exact KS distance between the order-value empirical
    * CDF and N(μ̂, σ̂²) fitted from the same data — "is spend even
    * approximately normal?" is the assumption q228/q231/q247 lean on,
    * and this measures exactly how false it is (the normal-null
    * sibling of q240's exponential fit; critical values differ from
    * plain KS because the parameters are estimated — the DISTANCE is
    * what's reported).
    *
    * Parity: μ̂/σ̂ from exact int64/DECIMAL moments; Φ is DEFINED as
    * the A-S 26.2.17 polynomial (Φ(z) = 1 − p₂(z)/2 for z ≥ 0,
    * p₂(z)/2 below — the same kernel as every p in the suite);
    * empirical CDF steps ride the value census + [[PrefixSum]];
    * per-step D candidates nano-quantize before the integer MAX
    * (q240 discipline).
    *
    * Scale: the q240 shape — census, prefix sums, one max agg. */
  def q255NormalFitKs(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val cen = o.groupBy("c").agg(count(lit(1)).as("cnt"))
    // r20 (verdict mandate #2): the moment totals used to re-execute
    // the census build; fused into PrefixSum's per-partition pass
    val cum = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
      Seq(col("c")), Seq((col("cnt"), "cum")), Nil,
      Seq((col("cnt"), "n"),
        (col("c").cast(dec) * col("cnt").cast(dec), "sv"),
        (col("c").cast(dec) * col("c").cast(dec) * col("cnt").cast(dec),
          "qv")))
    val mu = col("sv").cast("double") / col("n")
    val sd = sqrt((col("qv").cast("double") - col("sv").cast("double") *
      mu) / (col("n") - lit(1.0)))
    val zv = (col("c").cast("double") - mu) / sd
    val phi = when(zv >= 0, lit(1.0) - StatFns.asTwoSidedP(zv) / 2.0)
      .otherwise(StatFns.asTwoSidedP(zv) / 2.0)
    val fHi = col("cum").cast("double") / col("n")
    val fLo = (col("cum") - col("cnt")).cast("double") / col("n")
    cum.select(col("n"), mu.as("muv"), sd.as("sdv"),
        Parity.quant(greatest(abs(fHi - phi), abs(phi - fLo)), 1e9).as("dq"))
      .groupBy("n")
      .agg(max(col("muv")).as("muv"), max(col("sdv")).as("sdv"),
        max(col("dq")).as("dmax"))
      .select(col("n").as("n_orders"),
        (round(col("muv") / 100.0, 4) + 0.0).as("mean_price"),
        (round(col("sdv") / 100.0, 4) + 0.0).as("sd_price"),
        Parity.fix(col("dmax").cast("double") / 1e9, 6)
        .as("ks_d"))
  }

  val q255NormalFitKsSql: String = {
    val phi = s"(CASE WHEN zv >= 0 THEN 1.0 - ${asTwoSidedPSql("zv")} / 2.0" +
      s" ELSE ${asTwoSidedPSql("zv")} / 2.0 END)"
    s"""WITH o AS (
       |  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
       |  FROM orders),
       |cen AS (SELECT c, COUNT(*) AS cnt FROM o GROUP BY c),
       |cum AS (
       |  SELECT c, cnt,
       |    CAST(SUM(cnt) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum
       |  FROM cen),
       |tot AS (
       |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
       |    SUM(CAST(c AS HUGEINT) * cnt) AS sv,
       |    SUM(CAST(c AS HUGEINT) * c * cnt) AS qv
       |  FROM cen),
       |m AS (
       |  SELECT n, CAST(sv AS DOUBLE) / n AS mu,
       |    SQRT((CAST(qv AS DOUBLE) - CAST(sv AS DOUBLE)
       |      * (CAST(sv AS DOUBLE) / n)) / (n - 1.0)) AS sd
       |  FROM tot),
       |d AS (
       |  SELECT n, mu, sd,
       |    ${Parity.quantSql("GREATEST(" +
                              s" abs(CAST(cum AS DOUBLE) / n - $phi)," +
                              s" abs($phi - CAST(cum - cnt AS DOUBLE) / n))", 9)}
       |      AS dq
       |  FROM (SELECT cum.*, m.n, m.mu, m.sd,
       |      (CAST(c AS DOUBLE) - mu) / sd AS zv
       |    FROM cum, m) q)
       |SELECT n AS n_orders,
       |  ROUND(MAX(mu) / 100.0, 4) + 0 AS mean_price,
       |  ROUND(MAX(sd) / 100.0, 4) + 0 AS sd_price,
       |  ${Parity.fixSql("CAST(MAX(dq) AS DOUBLE) / 1e9", 6)} AS ks_d
       |FROM d GROUP BY n""".stripMargin
  }

  /** L178 two-sample Cramér–von Mises (Anderson 1962 [PK], the
    * rank-sum form): BUILDING vs FURNITURE order values again (q231's
    * design), but comparing the WHOLE distributions:
    * U = n·Σᵢ(rᵢ−i)² + m·Σⱼ(sⱼ−j)², T = U/(nmN) − (4nm−1)/(6N). KS
    * (q147) sees the single largest CDF gap; CvM integrates ALL of
    * it — more power against diffuse shape differences.
    *
    * Parity: combined average ranks and within-sample indices both
    * ride DOUBLED units from exact censuses ([[PrefixSum]] twice — no
    * single-partition window); each observation's (r2−2i)² lands in
    * DECIMAL(38,0)/HUGEINT, so U is exact through sf ≫ 1; T is one
    * double chain 6dp. Each distinct value's observations explode
    * their within-sample index range from the census (linear in rows,
    * the same cost as scanning them).
    *
    * Scale: two censuses + prefix sums + one linear explode; no
    * sort of fact data beyond the census ranks. */
  def q244CramerVonMises(s: SparkSession, dir: String): DataFrame = {
    val o = LocationTests.buildingFurniture(s, dir)
      .select((col("c_mktsegment") === "BUILDING").as("gx"),
        Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val cen = o.groupBy("c").agg(
      count(lit(1)).as("n_all"),
      sum(when(col("gx"), 1L).otherwise(0L)).as("nx"),
      sum(when(col("gx"), 0L).otherwise(1L)).as("ny"))
    val cum = graft.ops.PrefixSum.withPrefixSums(cen, Seq(col("c")),
      Seq((col("n_all"), "cum_all"), (col("nx"), "cum_x"),
        (col("ny"), "cum_y")))
      .withColumn("r2", col("cum_all") * 2 - col("n_all") + 1)
    def sumSq(nCol: Column, cumCol: Column): Column = {
      // Σ_{i=a..b} (r2 − 2i)² for the consecutive within-sample index
      // range a..b of this value's observations, via explode
      val a = cumCol - nCol + 1
      explode(when(nCol > 0, sequence(a, cumCol))
        .otherwise(array().cast("array<long>")))
    }
    val xs = cum.select(col("r2"), sumSq(col("nx"), col("cum_x")).as("i"))
      .select(((col("r2") - col("i") * 2).cast(dec) *
        (col("r2") - col("i") * 2).cast(dec)).as("sq"))
      .agg(sum("sq").as("ux2"), count(lit(1)).as("n"))
    val ys = cum.select(col("r2"), sumSq(col("ny"), col("cum_y")).as("i"))
      .select(((col("r2") - col("i") * 2).cast(dec) *
        (col("r2") - col("i") * 2).cast(dec)).as("sq"))
      .agg(sum("sq").as("uy2"), count(lit(1)).as("m"))
    val nD = col("n").cast("double")
    val mD = col("m").cast("double")
    val bigN = nD + mD
    val u = (nD * col("ux2").cast("double") +
      mD * col("uy2").cast("double")) / 4.0
    val t = u / (nD * mD * bigN) -
      (lit(4.0) * nD * mD - 1.0) / (lit(6.0) * bigN)
    xs.crossJoin(broadcast(ys))
      .select(col("n").as("n_x"), col("m").as("n_y"),
        (round(t, 6) + 0.0).as("t_cvm"))
  }

  val q244CramerVonMisesSql: String =
    s"""WITH o AS (
      |  SELECT c_mktsegment = 'BUILDING' AS gx,
      |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      |  ${LocationTests.buildingFurnitureSql}),
      |cen AS (
      |  SELECT c, COUNT(*) AS n_all,
      |    CAST(SUM(CASE WHEN gx THEN 1 ELSE 0 END) AS BIGINT) AS nx,
      |    CAST(SUM(CASE WHEN gx THEN 0 ELSE 1 END) AS BIGINT) AS ny
      |  FROM o GROUP BY c),
      |cum AS (
      |  SELECT c, n_all, nx, ny,
      |    CAST(SUM(n_all) OVER w AS BIGINT) AS cum_all,
      |    CAST(SUM(nx) OVER w AS BIGINT) AS cum_x,
      |    CAST(SUM(ny) OVER w AS BIGINT) AS cum_y,
      |    CAST(2 * SUM(n_all) OVER w - n_all + 1 AS BIGINT) AS r2
      |  FROM cen
      |  WINDOW w AS (ORDER BY c ROWS UNBOUNDED PRECEDING)),
      |xs AS (
      |  SELECT CAST(SUM(CAST((r2 - 2 * i) AS HUGEINT)
      |      * (r2 - 2 * i)) AS HUGEINT) AS ux2,
      |    COUNT(*) AS n
      |  FROM cum, LATERAL (SELECT unnest(range(cum_x - nx + 1, cum_x + 1))
      |    AS i) ii
      |  WHERE nx > 0),
      |ys AS (
      |  SELECT CAST(SUM(CAST((r2 - 2 * i) AS HUGEINT)
      |      * (r2 - 2 * i)) AS HUGEINT) AS uy2,
      |    COUNT(*) AS m
      |  FROM cum, LATERAL (SELECT unnest(range(cum_y - ny + 1, cum_y + 1))
      |    AS i) ii
      |  WHERE ny > 0)
      |SELECT n AS n_x, m AS n_y,
      |  ROUND((CAST(n AS DOUBLE) * CAST(ux2 AS DOUBLE)
      |      + CAST(m AS DOUBLE) * CAST(uy2 AS DOUBLE)) / 4.0
      |    / (CAST(n AS DOUBLE) * m * (n + m))
      |    - (4.0 * CAST(n AS DOUBLE) * m - 1.0) / (6.0 * (n + m)), 6) + 0
      |    AS t_cvm
      |FROM xs, ys""".stripMargin

  /** L190 Jarque–Bera normality test (Jarque & Bera 1980 [PK]) on
    * order prices: JB = n/6·(S² + K²/4) from the sample skewness S and
    * excess kurtosis K — the moment-based normality screen beside
    * q255's Lilliefors distance (KS sees the worst CDF gap; JB sees
    * tail/asymmetry shape). p = exp(−JB/2), the exact χ²₂ tail.
    *
    * Parity: prices ride the cent census; the mean is centered to the
    * FLOOR-integer m (identical double division + floor on both
    * engines), so every central power sum Σcnt·(c−m)^k is an EXACT
    * DECIMAL/HUGEINT (bounded by n·range⁴ < 10³⁸ — holds to ~10⁹ rows
    * at a 10⁶-dollar price spread, documented bound); S/K/JB are one
    * identical double chain, p quantized at 1e-8 (q216 discipline).
    *
    * Scale: one map-side census collapse, one census agg, 1-row
    * algebra — the q255 shape minus the CDF pass. Fuzz-hardened at
    * birth: n < 2 or zero variance → null statistics. */
  def q256JarqueBera(s: SparkSession, dir: String): DataFrame = {
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
    val nD = col("n").cast("double")
    val m2 = col("s2").cast("double") / nD
    val skew = (col("s3").cast("double") / nD) / pow(m2, 1.5)
    val exk = (col("s4").cast("double") / nD) / (m2 * m2) - 3.0
    val jb = nD / 6.0 * (skew * skew + exk * exk / 4.0)
    val bad = col("n") < 2 || col("s2") <= 0
    pw.select(col("n").as("n_orders"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(skew, 6) + 0.0).as("skewness"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(exk, 6) + 0.0).as("excess_kurtosis"),
      when(bad, lit(null).cast("double"))
        .otherwise(round(jb, 4) + 0.0).as("jb_stat"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(exp(-jb / 2.0), 8)).as("p"))
  }

  val q256JarqueBeraSql: String =
    s"""WITH o AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM orders),
      |cen AS (SELECT c, COUNT(*) AS cnt FROM o GROUP BY c),
      |s1 AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(FLOOR(CAST(SUM(CAST(c AS HUGEINT) * cnt) AS DOUBLE)
      |      / CAST(SUM(cnt) AS DOUBLE)) AS BIGINT) AS m
      |  FROM cen),
      |pw AS (
      |  SELECT n,
      |    SUM(CAST(c - m AS HUGEINT) * (c - m) * cnt) AS s2,
      |    SUM(CAST(c - m AS HUGEINT) * (c - m) * (c - m) * cnt) AS s3,
      |    SUM(CAST(c - m AS HUGEINT) * (c - m) * (c - m) * (c - m) * cnt)
      |      AS s4
      |  FROM cen, s1 GROUP BY n),
      |st AS (
      |  SELECT n,
      |    CAST(s2 AS DOUBLE) / n AS m2,
      |    (CAST(s3 AS DOUBLE) / n)
      |      / POWER(CAST(s2 AS DOUBLE) / n, 1.5) AS skew,
      |    (CAST(s4 AS DOUBLE) / n)
      |      / ((CAST(s2 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)) - 3.0
      |      AS exk,
      |    n < 2 OR s2 <= 0 AS bad
      |  FROM pw)
      |SELECT n AS n_orders,
      |  CASE WHEN bad THEN NULL ELSE ROUND(skew, 6) + 0 END AS skewness,
      |  CASE WHEN bad THEN NULL ELSE ROUND(exk, 6) + 0 END
      |    AS excess_kurtosis,
      |  CASE WHEN bad THEN NULL ELSE
      |    ROUND(CAST(n AS DOUBLE) / 6.0 * (skew * skew + exk * exk / 4.0),
      |      4) + 0 END AS jb_stat,
      |  CASE WHEN bad THEN NULL ELSE
      |    ${Parity.fixSql("exp(-(CAST(n AS DOUBLE) / 6.0" +
                           " * (skew * skew + exk * exk / 4.0)) / 2.0)", 8)}
      |    END AS p
      |FROM st""".stripMargin

  /** L301 exact sign test with a dyadic binomial tail ([PK] the
    * oldest formal hypothesis test — Arbuthnot 1710; binomial form in
    * any nonparametrics text, e.g. Conover 1999 §3.4) — the suite's
    * FIRST exact small-sample p-value: for every unordered pair of
    * market segments, compare quarterly revenues as matched pairs
    * (quarter = the block), count wins, and compute the two-sided
    * p = min(1, 2·Σ_{i≤min(k,n−k)} C(n,i)/2ⁿ) EXACTLY — the binomial
    * coefficients accumulate through Pascal's multiplicative
    * recurrence C(n,i) = C(n,i−1)·(n−i+1)/i (every intermediate an
    * exact int64: Σ ≤ 2²⁷), so the p-value is a DYADIC rational both
    * engines produce bit-for-bit with ZERO libm and zero normal
    * approximation (contrast q233 McNemar's large-sample z on the
    * same matched-pairs frame). At sf0.001 the panel genuinely
    * rejects (FURNITURE is shifted against three peers); at sf0.01
    * the segments are balanced and the panel is an honest null.
    *
    * Parity: quarterly revenues exact cents; wins/ties integer
    * decisions; the tail fold is exact int64 in both engines (Spark
    * `aggregate` HOF with `div`; DuckDB a ≤14-step recursive CTE);
    * p = 2·s/2ⁿ is an exact dyadic double (n ≤ 27).
    *
    * Scale: one fact-scan (qtr, segment) rollup (orders ⋈ broadcast
    * customer-segment), a ≤135-row census self-joined into ≤10 pair
    * rows, and a ≤14-step in-row fold per pair — nothing after the
    * rollup sees fact-sized data. */
  def q366SignTest(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"))
    val c = Tables.orders(s, dir)
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .groupBy(SketchQueries.quarterKey.cast("long").as("qtr"), col("seg"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("rev"))
    val x = c.select(col("qtr"), col("seg").as("seg_a"),
      col("rev").as("rev_a"))
    val y = c.select(col("qtr"), col("seg").as("seg_b"),
      col("rev").as("rev_b"))
    val pairs = x.join(y, Seq("qtr")).filter(col("seg_a") < col("seg_b"))
      .groupBy("seg_a", "seg_b")
      .agg(sum(when(col("rev_a") =!= col("rev_b"), 1L).otherwise(0L))
          .as("n"),
        sum(when(col("rev_a") > col("rev_b"), 1L).otherwise(0L))
          .as("k"))
      .withColumn("kmin", least(col("k"), col("n") - col("k")))
    // Σ_{i=0}^{kmin} C(n,i) via the multiplicative recurrence, folded
    // in-row: acc.c walks C(n,i), acc.s accumulates the tail sum.
    // n ≤ 60 cap (fuzz hardening): the recurrence's peak intermediate
    // C(n,⌊n/2⌋−1)·(n/2+1) stays under 2⁶³ only to n ≈ 61 — beyond
    // that the exact dyadic construction is out of its small-sample
    // domain and the test reports NULL (the q251 convention).
    // r17 (r16 advisor): the fold's own arguments are CLAMPED
    // (least(n, 60), least(kmin, 30)) so its int64 arithmetic cannot
    // overflow even if codegen subexpression elimination ever hoists
    // it past the when-branch (the repo's documented CASE-laziness
    // hazard) — for n ≤ 60 the clamps are identities, and for n > 60
    // the fold's (discarded) value is garbage but SAFE
    val tail = when(col("n") > 60L, lit(null).cast("long"))
      .when(col("kmin") === 0L, lit(1L))
      .otherwise(expr(
        """aggregate(sequence(1, cast(least(kmin, 30L) as int)),
          |  named_struct('c', 1L, 's', 1L),
          |  (acc, j) -> named_struct(
          |    'c', acc.c * (least(n, 60L) - j + 1) div j,
          |    's', acc.s + acc.c * (least(n, 60L) - j + 1) div j),
          |  acc -> acc.s)""".stripMargin))
    pairs
      .withColumn("tail", tail)
      .select(col("seg_a"), col("seg_b"), col("n").as("n_pairs"),
        col("k").as("wins_a"),
        // explicit null-through: both engines' LEAST skips nulls
        when(col("tail").isNull, lit(null).cast("double"))
          .otherwise(least(lit(1.0),
            lit(2.0) * col("tail").cast("double") /
              expr("shiftleft(1L, cast(n as int))").cast("double")))
          .as("p_exact"))
      .withColumn("reject_5pct", (col("p_exact") <= 0.05).cast("long"))
      .orderBy("seg_a", "seg_b")
  }

  val q366SignTestSql: String =
    s"""WITH RECURSIVE c AS (
      |  SELECT ${SketchQueries.quarterKeySql} AS qtr,
      |    c_mktsegment AS seg,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS rev
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |pairs AS (
      |  SELECT x.seg AS seg_a, y.seg AS seg_b,
      |    CAST(SUM(CASE WHEN x.rev <> y.rev THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN x.rev > y.rev THEN 1 ELSE 0 END)
      |      AS BIGINT) AS k
      |  FROM c x JOIN c y ON x.qtr = y.qtr AND x.seg < y.seg
      |  GROUP BY 1, 2),
      |p2 AS (SELECT *, LEAST(k, n - k) AS kmin FROM pairs),
      |tail(seg_a, seg_b, j, c, s) AS (
      |  SELECT seg_a, seg_b, CAST(0 AS BIGINT), CAST(1 AS BIGINT),
      |    CAST(1 AS BIGINT) FROM p2
      |  UNION ALL
      |  SELECT t.seg_a, t.seg_b, t.j + 1,
      |    t.c * (p.n - t.j) // (t.j + 1),
      |    t.s + t.c * (p.n - t.j) // (t.j + 1)
      |  FROM tail t JOIN p2 p
      |    ON t.seg_a = p.seg_a AND t.seg_b = p.seg_b
      |  WHERE t.j < p.kmin AND p.n <= 60 AND t.j < 30)
      |SELECT p.seg_a, p.seg_b, p.n AS n_pairs, p.k AS wins_a,
      |  CASE WHEN p.n > 60 OR t.s IS NULL THEN NULL
      |    ELSE LEAST(1.0, 2.0 * CAST(t.s AS DOUBLE)
      |      / CAST(CAST(1 AS BIGINT) << CAST(p.n AS INT) AS DOUBLE))
      |    END AS p_exact,
      |  CASE WHEN p.n > 60 OR t.s IS NULL THEN NULL
      |    ELSE CAST(CASE WHEN LEAST(1.0, 2.0 * CAST(t.s AS DOUBLE)
      |      / CAST(CAST(1 AS BIGINT) << CAST(p.n AS INT) AS DOUBLE))
      |        <= 0.05 THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
      |FROM p2 p LEFT JOIN tail t
      |  ON p.seg_a = t.seg_a AND p.seg_b = t.seg_b AND t.j = p.kmin
      |ORDER BY p.seg_a, p.seg_b""".stripMargin
}
