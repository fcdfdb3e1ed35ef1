package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import StatFns.{asTwoSidedP, asTwoSidedPSql}

/** k-sample and blocked-design group-comparison tests, split out of
  * LocationTests in round 17 (the file was at 1,731 lines after the
  * q367/q371 PrefixSum rewrite — the same review-locality seam as the
  * r15/r16 splits). Family: the k-group location/dispersion tests
  * (q227 Kruskal–Wallis, q228 one-way ANOVA F, q232 Brown–Forsythe,
  * q259 Mood's median, q345 Bartlett), the blocked/ordered designs
  * (q241 Friedman, q243 Page, q254 Jonckheere–Terpstra). TWO-sample
  * and paired tests stay in LocationTests. Every member keeps its
  * original discipline: DuckDB mirror from the same census algebra,
  * StatBruteSpec sequential reference, NonDegeneracySpec invariant,
  * and map-side collapse to value/group censuses (+ [[PrefixSum]] for
  * global cumulatives) before any window or join.
  */
object KSampleTests {

  /** L161 Kruskal–Wallis H (Kruskal & Wallis 1952 [PK]): the k-group
    * generalization of q210's two-sample rank test — do the five
    * market segments draw order values from the same distribution?
    * Tie-corrected H = [12/(N(N+1))·Σ Rⱼ²/nⱼ − 3(N+1)] / C with
    * C = 1 − Σ(t³−t)/(N³−N).
    *
    * Parity: global average ranks ride the q210 doubled-unit census
    * (2r̄ integer under ties); per-group rank sums R2ⱼ are exact
    * 128-bit; each group's Rⱼ²/nⱼ term is pinned by ONE identical
    * floor(x+0.5) double chain before the 5-term sum, so the
    * cross-group summation is order-free (the q224 discipline). Note
    * the pinned term itself exceeds 2⁵³ well before sf 1 (R2ⱼ² ~ 1e17
    * at sf 1), so the floor lands on a double-rounded value, NOT an
    * exact integer — parity rests on both engines running the
    * IDENTICAL double chain, not on sub-2⁵³ exactness.
    *
    * Scale: value census + [[PrefixSum]] cumulative (no
    * single-partition window); per-(value, segment) census collapses
    * map-side; the tie term is a 1-row aggregate of the census
    * broadcast back in-plan (q211's tmax pattern — no driver action at
    * DataFrame-build time); everything after is ≤5-row algebra. */
  def q227KruskalWallis(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val cen = o.groupBy("c").agg(count(lit(1)).as("n"))
    // r20 (verdict mandate #2): the tie correction Σ(n³−n) used to be a
    // second full aggregation over `cen`, re-executing the fact-scale
    // census build; it now rides PrefixSum's own per-partition pass
    val cum = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
      Seq(col("c")), Seq((col("n"), "cumn")), Nil,
      Seq((col("n").cast(dec) * col("n").cast(dec) * col("n").cast(dec) -
        col("n").cast(dec), "tied")))
      .select(col("c"), col("n"), (col("cumn") * 2 - col("n") + 1).as("r2"),
        col("tied").cast("long").as("tie"))
    val bySeg = o.groupBy("seg", "c").agg(count(lit(1)).as("ncs"))
      .join(cum, "c")
      .groupBy("seg")
      .agg(sum(col("ncs")).as("nj"),
        sum(col("ncs").cast(dec) * col("r2").cast(dec)).as("r2j"),
        max(col("tie")).as("tie"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = bySeg
      // Rⱼ²/nⱼ = (R2ⱼ/2)²/nⱼ = R2ⱼ²/(4nⱼ), pinned to int64 once
      .withColumn("vq",
        floor((col("r2j").cast("double") * col("r2j").cast("double")) /
          (col("nj").cast("double") * 4.0) + 0.5).cast("long"))
      .withColumn("nt", sum(col("nj")).over(wAll))
      .withColumn("sv", sum(col("vq")).over(wAll))
    val nD = col("nt").cast("double")
    val h = lit(12.0) / (nD * (nD + 1.0)) * col("sv").cast("double") -
      lit(3.0) * (nD + 1.0)
    val corr = lit(1.0) - col("tie").cast("double") / (nD * nD * nD - nD)
    t.select(col("seg").as("c_mktsegment"), col("nj"),
        (round(col("r2j").cast("double") / (col("nj").cast("double") * 2.0),
          4) + 0.0).as("mean_rank"),
        (round(h / corr, 4) + 0.0).as("h_corrected"),
        lit(4).as("df"))
      .orderBy("c_mktsegment")
  }


  val q227KruskalWallisSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cen AS (SELECT c, COUNT(*) AS n FROM o GROUP BY c),
      |cum AS (
      |  SELECT c, n,
      |    2 * SUM(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
      |      - n + 1 AS r2
      |  FROM cen),
      |tie AS (
      |  SELECT CAST(SUM(CAST(n AS HUGEINT) * n * n - n) AS BIGINT) AS tie
      |  FROM cen),
      |bseg AS (
      |  SELECT seg, SUM(ncs) AS nj,
      |    SUM(CAST(ncs AS HUGEINT) * r2) AS r2j
      |  FROM (SELECT seg, c, COUNT(*) AS ncs FROM o GROUP BY seg, c) g
      |  JOIN cum USING (c)
      |  GROUP BY seg),
      |t AS (
      |  SELECT seg, CAST(nj AS BIGINT) AS nj, r2j,
      |    CAST(FLOOR((CAST(r2j AS DOUBLE) * CAST(r2j AS DOUBLE))
      |      / (CAST(nj AS DOUBLE) * 4.0) + 0.5) AS BIGINT) AS vq,
      |    CAST(SUM(nj) OVER () AS BIGINT) AS nt
      |  FROM bseg),
      |t2 AS (SELECT *, CAST(SUM(vq) OVER () AS BIGINT) AS sv FROM t)
      |SELECT seg AS c_mktsegment, nj,
      |  ROUND(CAST(r2j AS DOUBLE) / (CAST(nj AS DOUBLE) * 2.0), 4) + 0
      |    AS mean_rank,
      |  ROUND((12.0 / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) + 1.0))
      |      * CAST(sv AS DOUBLE)
      |      - 3.0 * (CAST(nt AS DOUBLE) + 1.0))
      |    / (1.0 - CAST((SELECT tie FROM tie) AS DOUBLE)
      |      / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
      |        - CAST(nt AS DOUBLE))), 4) + 0 AS h_corrected,
      |  4 AS df
      |FROM t2 ORDER BY seg""".stripMargin


  /** L162 one-way ANOVA F (Fisher [PK], textbook decomposition): the
    * parametric companion to q227 on the same 5-segment design —
    * between/within sum-of-squares decomposition of order value and
    * F = (SSB/(k−1))/(SSW/(N−k)). Reading both: a significant H with a
    * mild F flags non-normal location shift.
    *
    * Parity: values ride whole DOLLARS (the q205 pin) so Σx and Σx²
    * stay far inside DECIMAL(38,0)/HUGEINT; each group's Sⱼ²/nⱼ is
    * pinned to int64 by one identical floor chain before the 5-term
    * sum (q227 discipline); SSB/SSW are then exact int64 differences
    * and F is one double chain 4dp.
    *
    * Scale: one map-side-combinable (segment) moment agg; ≤5-row
    * algebra after. */
  def q228AnovaF(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") + 0.5).cast("long").as("v"))
    val g = o.groupBy("seg")
      .agg(count(lit(1)).as("nj"), sum(col("v").cast(dec)).as("sj"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("qj"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("vq",
        floor((col("sj").cast("double") * col("sj").cast("double")) /
          col("nj").cast("double") + 0.5).cast("long"))
      .withColumn("nt", sum(col("nj")).over(wAll))
      .withColumn("st", sum(col("sj")).over(wAll))
      .withColumn("qt", sum(col("qj")).over(wAll))
      .withColumn("sv", sum(col("vq")).over(wAll))
    val grand = floor((col("st").cast("double") * col("st").cast("double")) /
      col("nt").cast("double") + 0.5).cast("long")
    val ssb = col("sv") - grand
    // r19 (r18 verdict, q391 pattern): Σv² stays DECIMAL(38,0) —
    // `cast(qt as long)` overflows near SF ~200 for raw whole-dollar
    // totalprice (qt ≈ n·E[v²] ≈ 4.6e16·SF). Subtract sv as decimal;
    // the DIFFERENCE (≈ n·Var[v] ≈ 1.2e16·SF) is the only value that
    // must fit int64, raising the exact-output ceiling to ~SF 760,
    // where the ANSI long cast fails LOUDLY instead of saturating
    // (q385/q395 convention; the vq/grand quantization grid itself
    // holds to ~SF 1300).
    val ssw = col("qt") - col("sv").cast(dec)
    val f = (ssb.cast("double") / 4.0) /
      (ssw.cast("double") / (col("nt").cast("double") - 5.0))
    t.select(col("seg").as("c_mktsegment"), col("nj"),
        (round(col("sj").cast("double") / col("nj"), 4) + 0.0)
          .as("mean_value"),
        ssb.as("ss_between"), ssw.cast("long").as("ss_within"),
        (round(f, 4) + 0.0).as("f_stat"))
      .orderBy("c_mktsegment")
  }


  val q228AnovaFSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (
      |  SELECT seg, COUNT(*) AS nj,
      |    SUM(CAST(v AS HUGEINT)) AS sj,
      |    SUM(CAST(v AS HUGEINT) * v) AS qj
      |  FROM o GROUP BY seg),
      |t AS (
      |  SELECT seg, nj, sj, qj,
      |    CAST(FLOOR((CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
      |      / CAST(nj AS DOUBLE) + 0.5) AS BIGINT) AS vq,
      |    CAST(SUM(nj) OVER () AS BIGINT) AS nt,
      |    SUM(sj) OVER () AS st,
      |    SUM(qj) OVER () AS qt
      |  FROM g),
      |t2 AS (
      |  SELECT *,
      |    CAST(SUM(vq) OVER () AS BIGINT) AS sv,
      |    CAST(FLOOR((CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
      |      / CAST(nt AS DOUBLE) + 0.5) AS BIGINT) AS grand
      |  FROM t)
      |SELECT seg AS c_mktsegment, nj,
      |  ROUND(CAST(sj AS DOUBLE) / nj, 4) + 0 AS mean_value,
      |  sv - grand AS ss_between,
      |  CAST(qt - CAST(sv AS HUGEINT) AS BIGINT) AS ss_within,
      |  ROUND((CAST(sv - grand AS DOUBLE) / 4.0)
      |    / (CAST(qt - CAST(sv AS HUGEINT) AS DOUBLE)
      |      / (CAST(nt AS DOUBLE) - 5.0)), 4) + 0 AS f_stat
      |FROM t2 ORDER BY seg""".stripMargin


  /** L166 Brown–Forsythe variance-homogeneity test (Brown & Forsythe
    * 1974 [PK], the median-centered Levene): one-way ANOVA on
    * |v − median_g| across the 5 segments — the assumption check
    * q228's pooled-variance F silently makes. Median-centering (vs
    * Levene's mean) keeps the 50% breakdown point.
    *
    * Parity: group medians ride DOUBLED whole dollars so the
    * interpolated median is an exact int (q215 discipline); deviations
    * dev2 = |2v − m2| are exact int64; the F decomposition then
    * follows the q228 chain verbatim on dev2 (per-group Sⱼ²/nⱼ pinned
    * by one identical floor; F scale-invariant so doubled units cancel).
    *
    * Scale: one exact-percentile census (≤5 groups) broadcast back,
    * one moment agg, ≤5-row algebra — two fact passes total. */
  def q232BrownForsythe(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") + 0.5).cast("long").as("v"))
    val med = o.groupBy("seg")
      .agg(percentile(col("v") * 2, lit(0.5)).cast("long").as("m2"))
    val dev = o.join(broadcast(med), "seg")
      .select(col("seg"), abs(col("v") * 2 - col("m2")).as("dev2"))
    val g = dev.groupBy("seg")
      .agg(count(lit(1)).as("nj"), sum(col("dev2").cast(dec)).as("sj"),
        sum(col("dev2").cast(dec) * col("dev2").cast(dec)).as("qj"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("vq",
        floor((col("sj").cast("double") * col("sj").cast("double")) /
          col("nj").cast("double") + 0.5).cast("long"))
      .withColumn("nt", sum(col("nj")).over(wAll))
      .withColumn("st", sum(col("sj")).over(wAll))
      .withColumn("qt", sum(col("qj")).over(wAll))
      .withColumn("sv", sum(col("vq")).over(wAll))
    val grand = floor((col("st").cast("double") * col("st").cast("double")) /
      col("nt").cast("double") + 0.5).cast("long")
    val ssb = col("sv") - grand
    // r19 (r18 verdict, q391 pattern): Σdev2² stays DECIMAL(38,0) —
    // see the q228 note; the doubled deviations make qt ≈ 4n·Var[v],
    // so the old `cast(qt as long)` saturated near SF ~450 while the
    // decimal difference holds and the F chain goes double-only here.
    val ssw = col("qt") - col("sv").cast(dec)
    val f = (ssb.cast("double") / 4.0) /
      (ssw.cast("double") / (col("nt").cast("double") - 5.0))
    t.select(col("seg").as("c_mktsegment"), col("nj"),
        (round(col("sj").cast("double") / (col("nj") * lit(2.0)), 4) + 0.0)
          .as("mean_absdev"),
        (round(f, 4) + 0.0).as("bf_stat"),
        lit(4).as("df1"),
        (col("nt") - 5).as("df2"))
      .orderBy("c_mktsegment")
  }


  val q232BrownForsytheSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |med AS (
      |  SELECT seg, CAST(quantile_cont(v * 2, 0.5) AS BIGINT) AS m2
      |  FROM o GROUP BY seg),
      |dev AS (
      |  SELECT o.seg, abs(v * 2 - m2) AS dev2
      |  FROM o JOIN med ON o.seg = med.seg),
      |g AS (
      |  SELECT seg, COUNT(*) AS nj,
      |    SUM(CAST(dev2 AS HUGEINT)) AS sj,
      |    SUM(CAST(dev2 AS HUGEINT) * dev2) AS qj
      |  FROM dev GROUP BY seg),
      |t AS (
      |  SELECT seg, nj, sj, qj,
      |    CAST(FLOOR((CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE))
      |      / CAST(nj AS DOUBLE) + 0.5) AS BIGINT) AS vq,
      |    CAST(SUM(nj) OVER () AS BIGINT) AS nt,
      |    SUM(sj) OVER () AS st,
      |    SUM(qj) OVER () AS qt
      |  FROM g),
      |t2 AS (
      |  SELECT *,
      |    CAST(SUM(vq) OVER () AS BIGINT) AS sv,
      |    CAST(FLOOR((CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
      |      / CAST(nt AS DOUBLE) + 0.5) AS BIGINT) AS grand
      |  FROM t)
      |SELECT seg AS c_mktsegment, nj,
      |  ROUND(CAST(sj AS DOUBLE) / (nj * 2.0), 4) + 0 AS mean_absdev,
      |  ROUND((CAST(sv - grand AS DOUBLE) / 4.0)
      |    / (CAST(qt - CAST(sv AS HUGEINT) AS DOUBLE)
      |      / (CAST(nt AS DOUBLE) - 5.0)), 4) + 0 AS bf_stat,
      |  4 AS df1, nt - 5 AS df2
      |FROM t2 ORDER BY seg""".stripMargin


  /** L175 Friedman test (Friedman 1937 [PK]): the rank-based
    * repeated-measures design — blocks = MONTHS (kept only when all 5
    * priorities transact in the month; days are too sparse — at
    * sf0.001 no day sees all 5 priorities and the statistic would be
    * vacuously empty, the exact failure NonDegeneracySpec exists to
    * forbid; months are 69/79/80-complete at the three SFs),
    * treatments = the 5 priorities, monthly revenue ranked WITHIN each
    * month with average ranks under ties, χ²_F = 12/(bk(k+1))·ΣRⱼ² −
    * 3b(k+1), df = k−1. The blocked complement to q227's pooled
    * Kruskal–Wallis: month-level revenue shifts cancel inside each
    * block instead of inflating the denominator.
    *
    * Parity: within-month average ranks ride DOUBLED units (2·avg is
    * the integer 2·RANK() + ties − 1 — exact under ties, the q210
    * census trick applied per block); Rⱼ2 sums and Rⱼ2² stay inside
    * int64 by block-count bounds (Rⱼ2 ≤ 2k·b ≈ 800 at 80 blocks, so
    * Rⱼ2² is EXACT int64 — no floor pinning needed, unlike q227); χ²
    * is one double chain 4dp.
    *
    * Scale: one (month, priority) census; complete-block filter and
    * per-month ranks run on month-partitioned 5-row windows; ≤5-row
    * algebra after. */
  def q241Friedman(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .groupBy(trunc(col("o_orderdate"), "month").as("mon"),
        col("o_orderpriority").as("pr"))
      .agg(sum(floor(col("o_totalprice") + 0.5).cast("long")).as("rev"))
    val wDay = Window.partitionBy("mon")
    val complete = d.withColumn("npr", count(lit(1)).over(wDay))
      .filter(col("npr") === 5)
    // doubled average rank: 2*RANK + (#ties at this rev) - 1
    val wRank = Window.partitionBy("mon").orderBy("rev")
    val wTies = Window.partitionBy("mon", "rev")
    val ranked = complete
      .withColumn("r2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
    val g = ranked.groupBy("pr")
      .agg(count(lit(1)).as("b"), sum(col("r2").cast("long")).as("rj2"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      // ΣRⱼ² = Σ(Rⱼ2/2)² = ΣRⱼ2²/4 — exact int64 at fixture block counts
      .withColumn("sr2", sum(col("rj2") * col("rj2")).over(wAll))
    val bD = col("b").cast("double")
    val chi = lit(12.0) / (bD * lit(5.0) * lit(6.0)) *
      (col("sr2").cast("double") / 4.0) - lit(3.0) * bD * lit(6.0)
    t.select(col("pr").as("o_orderpriority"), col("b").as("n_blocks"),
        (round(col("rj2").cast("double") / (bD * 2.0), 4) + 0.0)
          .as("mean_rank"),
        (round(chi, 4) + 0.0).as("chi2_f"),
        lit(4).as("df"))
      .orderBy("o_orderpriority")
  }


  val q241FriedmanSql: String =
    """WITH d AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
      |    o_orderpriority AS pr,
      |    CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |complete AS (
      |  SELECT * FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY mon) AS npr FROM d)
      |  WHERE npr = 5),
      |ranked AS (
      |  SELECT pr,
      |    2 * RANK() OVER (PARTITION BY mon ORDER BY rev)
      |      + COUNT(*) OVER (PARTITION BY mon, rev) - 1 AS r2
      |  FROM complete),
      |g AS (
      |  SELECT pr, COUNT(*) AS b, CAST(SUM(r2) AS BIGINT) AS rj2
      |  FROM ranked GROUP BY pr),
      |t AS (
      |  SELECT *, CAST(SUM(rj2 * rj2) OVER () AS BIGINT) AS sr2 FROM g)
      |SELECT pr AS o_orderpriority, b AS n_blocks,
      |  ROUND(CAST(rj2 AS DOUBLE) / (b * 2.0), 4) + 0 AS mean_rank,
      |  ROUND(12.0 / (CAST(b AS DOUBLE) * 5.0 * 6.0)
      |    * (CAST(sr2 AS DOUBLE) / 4.0)
      |    - 3.0 * CAST(b AS DOUBLE) * 6.0, 4) + 0 AS chi2_f,
      |  4 AS df
      |FROM t ORDER BY pr""".stripMargin


  /** L177 Page's trend test (Page 1963 [PK]): the ORDERED alternative
    * inside q241's blocked design — is monthly revenue rank MONOTONE
    * in priority level? L = Σⱼ j·Rⱼ against E[L] = bk(k+1)²/4,
    * Var[L] = bk²(k+1)²(k−1)/144. Friedman answers "any difference";
    * Page answers "a trend in the stated order" — strictly more power
    * when the ordering is real (the q234 dose-response idea lifted to
    * the blocked design).
    *
    * Parity: the q241 doubled-rank construction verbatim (exact under
    * ties); L2 = Σ j·Rⱼ2 is exact int64; z and p are one double chain
    * on both engines (p A-S quantized 1e-8).
    *
    * Scale: identical to q241 — census windows and ≤5-row algebra. */
  def q243PageTrend(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .groupBy(trunc(col("o_orderdate"), "month").as("mon"),
        col("o_orderpriority").as("pr"))
      .agg(sum(floor(col("o_totalprice") + 0.5).cast("long")).as("rev"))
    val wMon = Window.partitionBy("mon")
    val complete = d.withColumn("npr", count(lit(1)).over(wMon))
      .filter(col("npr") === 5)
    val wRank = Window.partitionBy("mon").orderBy("rev")
    val wTies = Window.partitionBy("mon", "rev")
    val ranked = complete
      .withColumn("r2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
      .withColumn("sc", substring(col("pr"), 1, 1).cast("long"))
    val g = ranked.groupBy("pr", "sc")
      .agg(count(lit(1)).as("b"), sum(col("r2").cast("long")).as("rj2"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g.withColumn("l2", sum(col("sc") * col("rj2")).over(wAll))
    val bD = col("b").cast("double")
    // doubled: E[L2] = 2·b·k(k+1)²/4 = 90b, SD[L2] = 2·√(25b) = 10√b
    val z = (col("l2").cast("double") - lit(90.0) * bD) /
      (lit(10.0) * sqrt(bD))
    t.select(col("pr").as("o_orderpriority"), col("sc").as("score"),
        col("b").as("n_blocks"),
        (round(col("rj2").cast("double") / (bD * 2.0), 4) + 0.0)
          .as("mean_rank"),
        (col("l2").cast("double") / 2.0).as("l_stat"),
        (round(z, 4) + 0.0).as("z_trend"),
        Parity.fix(asTwoSidedP(z), 8).as("p"))
      .orderBy("score")
  }


  val q243PageTrendSql: String = {
    val z = "((CAST(l2 AS DOUBLE) - 90.0 * b) / (10.0 * SQRT(CAST(b AS DOUBLE))))"
    s"""WITH d AS (
       |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
       |    o_orderpriority AS pr,
       |    CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
       |      AS rev
       |  FROM orders GROUP BY 1, 2),
       |complete AS (
       |  SELECT * FROM (
       |    SELECT *, COUNT(*) OVER (PARTITION BY mon) AS npr FROM d)
       |  WHERE npr = 5),
       |ranked AS (
       |  SELECT pr, CAST(SUBSTRING(pr, 1, 1) AS BIGINT) AS sc,
       |    2 * RANK() OVER (PARTITION BY mon ORDER BY rev)
       |      + COUNT(*) OVER (PARTITION BY mon, rev) - 1 AS r2
       |  FROM complete),
       |g AS (
       |  SELECT pr, sc, COUNT(*) AS b, CAST(SUM(r2) AS BIGINT) AS rj2
       |  FROM ranked GROUP BY pr, sc),
       |t AS (
       |  SELECT *, CAST(SUM(sc * rj2) OVER () AS BIGINT) AS l2 FROM g)
       |SELECT pr AS o_orderpriority, sc AS score, b AS n_blocks,
       |  ROUND(CAST(rj2 AS DOUBLE) / (b * 2.0), 4) + 0 AS mean_rank,
       |  CAST(l2 AS DOUBLE) / 2.0 AS l_stat,
       |  ROUND($z, 4) + 0 AS z_trend,
       |  FLOOR(${asTwoSidedPSql(z)} * 1e8 + 0.5) / 1e8 AS p
       |FROM t ORDER BY score""".stripMargin
  }


  /** L188 Jonckheere–Terpstra test (Jonckheere 1954, Terpstra 1952
    * [PK]): the ordered-alternative k-group rank test —
    * J = Σ_{g<h} U_gh over the 5 priority levels in score order, ties
    * half-counted, z against E[J] = (N²−Σnⱼ²)/4 and the classical
    * no-tie Var[J] = [N²(2N+3) − Σnⱼ²(2nⱼ+3)]/72 (cent-grain values
    * make ties negligible; the half-count keeps J itself exact — the
    * variance convention is pinned identically on both engines). The
    * k-group ordered analog of what Page (q243) does for blocks:
    * Kruskal–Wallis (q227) answers "any difference", J-T answers "a
    * trend in the stated order".
    *
    * Parity: per-(value, level) census + 5 per-level [[PrefixSum]]
    * columns; each U_gh term is exact DECIMAL arithmetic (2·U to keep
    * half-counts integral); z is one double chain; p A-S quantized.
    *
    * Scale: one value census, ONE multi-column prefix pass, map-side
    * aggregation of the 10 ordered-pair terms — no pair blow-up. */
  def q254JonckheereTerpstra(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .select(Parity.quant(col("o_totalprice"), 100.0).as("c"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("g"))
    val nAggs = (1 to 5).map(g =>
      sum(when(col("g") === g, 1L).otherwise(0L)).as(s"n$g"))
    val cen = o.groupBy("c").agg(nAggs.head, nAggs.tail: _*)
    val cum = graft.ops.PrefixSum.withPrefixSums(cen, Seq(col("c")),
      (1 to 5).map(g => (col(s"n$g"), s"cum$g")))
    // 2·U_gh summed over g<h: for each value row, group h's count
    // meets group g's strictly-smaller mass (cum_g − n_g) twice plus
    // its tied mass n_g once
    val u2Terms = (for {
      g <- 1 to 4; h <- (g + 1) to 5
    } yield col(s"n$h").cast(dec) *
      ((col(s"cum$g") - col(s"n$g")).cast(dec) * 2 +
        col(s"n$g").cast(dec))).reduce(_ + _)
    val aggCols = sum(u2Terms).as("j2") +:
      (1 to 5).map(g => sum(col(s"n$g")).as(s"nt$g"))
    val agg = cum.agg(aggCols.head, aggCols.tail: _*)
    val nTot = (1 to 5).map(g => col(s"nt$g")).reduce(_ + _).cast("double")
    val sumSq = (1 to 5).map(g =>
      col(s"nt$g").cast("double") * col(s"nt$g")).reduce(_ + _)
    val sumSq23 = (1 to 5).map(g =>
      col(s"nt$g").cast("double") * col(s"nt$g") *
        (lit(2.0) * col(s"nt$g") + 3.0)).reduce(_ + _)
    val j = col("j2").cast("double") / 2.0
    val eJ = (nTot * nTot - sumSq) / 4.0
    val varJ = (nTot * nTot * (lit(2.0) * nTot + 3.0) - sumSq23) / 72.0
    val z = (j - eJ) / sqrt(varJ)
    agg.select(nTot.cast("long").as("n_orders"),
      (col("j2") / 2).cast("double").as("j_stat"),
      (round(z, 4) + 0.0).as("z_jt"),
      Parity.fix(asTwoSidedP(z), 8).as("p"))
  }


  val q254JonckheereTerpstraSql: String = {
    val nCols = (1 to 5).map(g =>
      s"CAST(SUM(CASE WHEN g = $g THEN 1 ELSE 0 END) AS BIGINT) AS n$g")
      .mkString(",\n      |    ")
    val cumCols = (1 to 5).map(g =>
      s"CAST(SUM(n$g) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)" +
        s" AS BIGINT) AS cum$g").mkString(",\n      |    ")
    val u2 = (for { g <- 1 to 4; h <- (g + 1) to 5 } yield
      s"CAST(n$h AS HUGEINT) * ((cum$g - n$g) * 2 + n$g)")
      .mkString(" + ")
    val ntCols = (1 to 5).map(g =>
      s"CAST(SUM(n$g) AS BIGINT) AS nt$g").mkString(",\n      |    ")
    val nTot = (1 to 5).map(g => s"nt$g").mkString(" + ")
    val sumSq = (1 to 5).map(g =>
      s"CAST(nt$g AS DOUBLE) * nt$g").mkString(" + ")
    val sumSq23 = (1 to 5).map(g =>
      s"CAST(nt$g AS DOUBLE) * nt$g * (2.0 * nt$g + 3.0)").mkString(" + ")
    val z = s"((CAST(j2 AS DOUBLE) / 2.0 " +
      s"- ((nt + 0.0) * nt - ($sumSq)) / 4.0) " +
      s"/ SQRT(((nt + 0.0) * nt * (2.0 * nt + 3.0) - ($sumSq23)) / 72.0))"
    s"""WITH o AS (
       |  SELECT CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c,
       |    CAST(SUBSTRING(o_orderpriority, 1, 1) AS INT) AS g
       |  FROM orders),
       |cen AS (
       |  SELECT c,
       |    $nCols
       |  FROM o GROUP BY c),
       |cum AS (
       |  SELECT *,
       |    $cumCols
       |  FROM cen),
       |agg AS (
       |  SELECT CAST(SUM($u2) AS HUGEINT) AS j2,
       |    $ntCols
       |  FROM cum),
       |t AS (SELECT *, $nTot AS nt FROM agg)
       |SELECT CAST(nt AS BIGINT) AS n_orders,
       |  CAST(j2 AS DOUBLE) / 2.0 AS j_stat,
       |  ROUND($z, 4) + 0 AS z_jt,
       |  FLOOR(${asTwoSidedPSql(z)} * 1e8 + 0.5) / 1e8 AS p
       |FROM t""".stripMargin
  }


  /** L193 Mood's median test (Mood 1950, Brown & Mood 1951 [PK]):
    * classify every order as above / not-above the GRAND median price,
    * then χ² on the resulting 2×k priority table — the median-based
    * k-sample location test that, unlike q227's rank sums, is robust
    * to arbitrary tail shape (it only looks at the median split).
    * χ²₄ tail via the exact Wilson–Hilferty-free series: p = exp(−x/2)
    * ·(1 + x/2) for df = 4 (the even-df closed form).
    *
    * Parity: the grand median is the A10 exact-percentile contract
    * (Spark `percentile` == DuckDB `quantile_cont`); above-counts are
    * exact int64; χ² terms quantize to 1e-8 units before the integer
    * sum; p is one exp chain quantized 1e-8.
    *
    * Scale: one cent-census percentile (the q98/q132 exact-quantile
    * path), one broadcast of the 1-row median, one ≤5-group agg with
    * census-sized windows. Guards: a group with zero expectation (all
    * values tied at the median) nulls the statistic. */
  def q259MoodMedian(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val med = o.agg(expr("percentile(c, 0.5)").as("med"))
    val g = o.crossJoin(broadcast(med))
      .groupBy("priority")
      .agg(count(lit(1)).as("n_i"),
        sum(when(col("c").cast("double") > col("med"), 1L).otherwise(0L))
          .as("a_i"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val tbl = g.withColumn("nt", sum(col("n_i")).over(wAll))
      .withColumn("at", sum(col("a_i")).over(wAll))
    val ea = col("n_i").cast("double") * col("at") / col("nt")
    val eb = col("n_i").cast("double") * (col("nt") - col("at")) / col("nt")
    val termQ = when(ea <= 0 || eb <= 0, lit(null).cast("long"))
      .otherwise((Parity.quant((col("a_i") - ea) * (col("a_i") - ea) / ea,
        1e8) +
        Parity.quant((col("n_i") - col("a_i") - eb) *
          (col("n_i") - col("a_i") - eb) / eb, 1e8)).cast("long"))
    val t2 = tbl.withColumn("tq", termQ)
      .withColumn("chiq", sum(col("tq")).over(wAll))
      .withColumn("anybad",
        max(when(col("tq").isNull, 1L).otherwise(0L)).over(wAll))
    val chi = col("chiq").cast("double") / 1e8
    t2.select(col("priority"), col("n_i"), col("a_i").as("n_above"),
        (round(col("a_i").cast("double") / col("n_i"), 4) + 0.0)
          .as("share_above"),
        when(col("anybad") === 1, lit(null).cast("double"))
          .otherwise(round(chi, 4) + 0.0).as("chi2"),
        when(col("anybad") === 1, lit(null).cast("double"))
          .otherwise(Parity.fix(exp(-chi / 2.0) * (lit(1.0) + chi / 2.0),
            8)).as("p"))
      .orderBy("priority")
  }


  val q259MoodMedianSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority AS priority,
      |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM orders),
      |med AS (SELECT quantile_cont(c, 0.5) AS med FROM o),
      |g AS (
      |  SELECT priority, COUNT(*) AS n_i,
      |    CAST(SUM(CASE WHEN CAST(c AS DOUBLE) > (SELECT med FROM med)
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a_i
      |  FROM o GROUP BY priority),
      |tbl AS (
      |  SELECT *, CAST(SUM(n_i) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(a_i) OVER () AS BIGINT) AS at
      |  FROM g),
      |q AS (
      |  SELECT *,
      |    CASE WHEN CAST(n_i AS DOUBLE) * at / nt <= 0
      |           OR CAST(n_i AS DOUBLE) * (nt - at) / nt <= 0 THEN NULL
      |    ELSE CAST(
      |      FLOOR((a_i - CAST(n_i AS DOUBLE) * at / nt)
      |          * (a_i - CAST(n_i AS DOUBLE) * at / nt)
      |          / (CAST(n_i AS DOUBLE) * at / nt) * 1e8 + 0.5)
      |      + FLOOR((n_i - a_i - CAST(n_i AS DOUBLE) * (nt - at) / nt)
      |          * (n_i - a_i - CAST(n_i AS DOUBLE) * (nt - at) / nt)
      |          / (CAST(n_i AS DOUBLE) * (nt - at) / nt) * 1e8 + 0.5)
      |      AS BIGINT) END AS tq
      |  FROM tbl),
      |w AS (
      |  SELECT *, CAST(SUM(tq) OVER () AS BIGINT) AS chiq,
      |    MAX(CASE WHEN tq IS NULL THEN 1 ELSE 0 END) OVER () AS anybad
      |  FROM q)
      |SELECT priority, n_i, a_i AS n_above,
      |  ROUND(CAST(a_i AS DOUBLE) / n_i, 4) + 0 AS share_above,
      |  CASE WHEN anybad = 1 THEN NULL
      |    ELSE ROUND(CAST(chiq AS DOUBLE) / 1e8, 4) + 0 END AS chi2,
      |  CASE WHEN anybad = 1 THEN NULL
      |    ELSE FLOOR(exp(-(CAST(chiq AS DOUBLE) / 1e8) / 2.0)
      |      * (1.0 + (CAST(chiq AS DOUBLE) / 1e8) / 2.0) * 1e8 + 0.5) / 1e8
      |    END AS p
      |FROM w ORDER BY priority""".stripMargin


  /** L279 Bartlett's test of variance homogeneity ([PK] Bartlett
    * 1937), per market segment on whole-dollar order values — the
    * CLASSICAL normal-theory companion to q232's robust
    * Brown–Forsythe on the same grouping: Bartlett is the most
    * powerful under normality but inflates under heavy tails, so the
    * PAIR is the diagnostic (both fire ⇒ real variance differences;
    * Bartlett alone ⇒ suspect non-normality).
    * χ² = [(N−K)·ln s²_p − Σ(n_k−1)·ln s²_k] / C,
    * C = 1 + (Σ1/(n_k−1) − 1/(N−K)) / (3(K−1)).
    *
    * Parity: every ln leg takes an argument both engines hold
    * IDENTICALLY — (n_k−1)s²_k reduces to A_k = n_kΣv²−(Σv)² over
    * B_k = n_k(n_k−1) (exact DECIMAL/int64; ln A − ln B, each leg
    * nano-quantized), and the pooled numerator is the exact FLOOR-DIV
    * Σ(A_k div n_k) (HUGEINT // in the mirror — a float division
    * there would be lossy at 1e18). C is one double chain from exact
    * ints; χ² 4dp.
    *
    * Scale: one broadcast-dim join + ONE map-side (segment) moment
    * census (5 rows); everything after is census arithmetic. */
  def q345Bartlett(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") + 0.5).cast(dec).as("v"))
    val g = o.groupBy("seg")
      .agg(count(lit(1)).as("nk"), sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("qv"))
      .withColumn("ak", col("nk") * col("qv") - col("sv") * col("sv"))
      .withColumn("bk", col("nk") * (col("nk") - 1L))
      .withColumn("ek", (col("ak") - pmod(col("ak"),
        col("nk").cast(dec))) / col("nk").cast(dec))
    def ln9(c: Column) =
      Parity.quant(log(c.cast("double")), 1e9)
    val lnk9 = ln9(col("ak")) - ln9(col("bk"))
    val m = g.select(col("nk"), col("ek"),
        ((col("nk") - 1L) * lnk9).as("termk"),
        (lit(1.0) / (col("nk") - 1L).cast("double")).as("invk"))
      .agg(sum(col("nk")).as("n"), count(lit(1)).as("k"),
        sum(col("ek")).as("se"), sum(col("termk")).as("sterm"),
        sum(col("invk")).as("sinv"))
    def f(c: String) = col(c).cast("double")
    val nmk = col("n") - col("k")
    val lnp9 = ln9(col("se")) - ln9(nmk)
    val mStat = (nmk.cast("double") * lnp9.cast("double") -
      f("sterm")) / 1e9
    val cFac = lit(1.0) + (f("sinv") - lit(1.0) / nmk.cast("double")) /
      (lit(3.0) * (f("k") - 1.0))
    val chi2 = mStat / cFac
    val bad = col("k") < 2L || col("n") <= col("k")
    m.select(col("n").cast("long").as("n_total"),
      col("k").cast("long").as("k_groups"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(chi2, 4)).as("bartlett_chi2"),
      (col("k") - 1L).cast("long").as("df"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(cFac, 6)).as("c_factor"),
      when(bad || col("k") =!= 5L, lit(null).cast("long"))
        .otherwise((chi2 > 9.4877).cast("long")).as("reject_5pct"))
  }


  val q345BartlettSql: String =
    """WITH o AS (
      |  SELECT c.c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice + 0.5) AS HUGEINT) AS v
      |  FROM orders JOIN customer c ON o_custkey = c.c_custkey),
      |g AS (
      |  SELECT seg, COUNT(*) AS nk,
      |    CAST(SUM(v) AS HUGEINT) AS sv,
      |    CAST(SUM(v * v) AS HUGEINT) AS qv
      |  FROM o GROUP BY seg),
      |a AS (
      |  SELECT nk, nk * qv - sv * sv AS ak,
      |    CAST(nk AS HUGEINT) * (nk - 1) AS bk
      |  FROM g),
      |t AS (
      |  SELECT nk, ak // nk AS ek,
      |    (nk - 1) * (CAST(FLOOR(LN(CAST(ak AS DOUBLE)) * 1e9 + 0.5)
      |        AS BIGINT)
      |      - CAST(FLOOR(LN(CAST(bk AS DOUBLE)) * 1e9 + 0.5)
      |        AS BIGINT)) AS termk,
      |    1.0 / (CAST(nk AS DOUBLE) - 1.0) AS invk
      |  FROM a),
      |m AS (
      |  SELECT CAST(SUM(nk) AS BIGINT) AS n, COUNT(*) AS k,
      |    CAST(SUM(ek) AS HUGEINT) AS se,
      |    CAST(SUM(termk) AS BIGINT) AS sterm,
      |    SUM(invk) AS sinv
      |  FROM t),
      |fin AS (
      |  SELECT *,
      |    ((CAST(n - k AS DOUBLE))
      |        * CAST(CAST(FLOOR(LN(CAST(se AS DOUBLE)) * 1e9 + 0.5)
      |            AS BIGINT)
      |          - CAST(FLOOR(LN(CAST(n - k AS DOUBLE)) * 1e9 + 0.5)
      |            AS BIGINT) AS DOUBLE)
      |      - CAST(sterm AS DOUBLE)) / 1e9 AS mstat,
      |    1.0 + (sinv - 1.0 / CAST(n - k AS DOUBLE))
      |      / (3.0 * (CAST(k AS DOUBLE) - 1.0)) AS cfac
      |  FROM m)
      |SELECT n AS n_total, CAST(k AS BIGINT) AS k_groups,
      |  CASE WHEN k < 2 OR n <= k THEN NULL
      |    ELSE FLOOR(mstat / cfac * 1e4 + 0.5) / 1e4 + 0 END
      |    AS bartlett_chi2,
      |  CAST(k - 1 AS BIGINT) AS df,
      |  CASE WHEN k < 2 OR n <= k THEN NULL
      |    ELSE FLOOR(cfac * 1e6 + 0.5) / 1e6 + 0 END AS c_factor,
      |  CASE WHEN k < 2 OR n <= k OR k <> 5 THEN NULL
      |    ELSE CAST(CASE WHEN mstat / cfac > 9.4877 THEN 1 ELSE 0 END
      |      AS BIGINT) END AS reject_5pct
      |FROM fin""".stripMargin

  /** L326 Levene's test, mean-centered *(added r17; [PK] Levene
    * 1960)* — the ORIGINAL variance-homogeneity test q232's
    * Brown–Forsythe is the robust modification of: the same one-way
    * ANOVA machinery applied to |x − x̄_g| (mean centering, optimal
    * under near-normality) instead of |x − median_g| (median
    * centering, robust to tails). Published on the identical 5-segment
    * order-value frame so W_mean beside q232's W_median IS the tail
    * readout: heavy tails inflate mean-centered deviations and pull
    * the two statistics apart.
    *
    * Parity: x̄_g = s_g/n_g from exact whole-dollar sums; each
    * |x − x̄_g| is ONE identical double chain dollar-quantized per
    * row before the exact group sums (seed-122 convention); Σz and
    * Σz² ride DECIMAL(38,0)/HUGEINT end-to-end (r18 — Σz² ≈ n·var
    * exceeds int64 near SF 800, so ssw is subtracted as decimal and
    * only the final F chain goes to double); the vq/grand int64
    * quantization grid is the residual ceiling (≈ SF 2000, the
    * q385/q395 documented-gate convention).
    *
    * Scale: one broadcast dim join + two map-side-combinable group
    * aggs (the mean pass then the deviation pass — same shape as
    * q232's median pass); ≤5-row algebra after. */
  def q391LeveneMean(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") + 0.5).cast("long").as("v"))
    val mu = o.groupBy("seg")
      .agg(count(lit(1)).as("ng"), sum(col("v").cast(dec)).as("sg"))
    val dev = o.join(broadcast(mu), "seg")
      .select(col("seg"),
        floor(abs(col("v").cast("double") -
          col("sg").cast("double") / col("ng").cast("double")) + 0.5)
          .cast("long").as("zq"))
    val g = dev.groupBy("seg")
      .agg(count(lit(1)).as("nj"), sum(col("zq").cast(dec)).as("sj"),
        sum(col("zq").cast(dec) * col("zq").cast(dec)).as("qj"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("vq",
        floor((col("sj").cast("double") * col("sj").cast("double")) /
          col("nj").cast("double") + 0.5).cast("long"))
      .withColumn("nt", sum(col("nj")).over(wAll))
      .withColumn("st", sum(col("sj")).over(wAll))
      .withColumn("qt", sum(col("qj")).over(wAll))
      .withColumn("sv", sum(col("vq")).over(wAll))
    val grand = floor((col("st").cast("double") * col("st").cast("double")) /
      col("nt").cast("double") + 0.5).cast("long")
    val ssb = col("sv") - grand
    // r18 (r17 advisor): Σz² stays DECIMAL(38,0) — cast(qt as long)
    // overflows around SF 800 (Σz² ≈ n·var); subtract sv as decimal
    // and go to double only inside the F chain. Residual scale gate:
    // the vq/grand int64 quantization grid itself saturates near
    // SF ~2000 (sj²/nj → 2⁶³) — the documented ceiling of the
    // whole-dollar exact construction (q385/q395 convention).
    val ssw = col("qt") - col("sv").cast(dec)
    val f = (ssb.cast("double") / 4.0) /
      (ssw.cast("double") / (col("nt").cast("double") - 5.0))
    t.select(col("seg").as("c_mktsegment"), col("nj"),
        (round(col("sj").cast("double") / col("nj"), 4) + 0.0)
          .as("mean_absdev_dollars"),
        (round(f, 4) + 0.0).as("levene_stat"),
        lit(4).as("df1"),
        (col("nt") - 5).as("df2"))
      .orderBy("c_mktsegment")
  }

  val q391LeveneMeanSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |mu AS (
      |  SELECT seg, COUNT(*) AS ng,
      |    CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS sg
      |  FROM o GROUP BY seg),
      |dev AS (
      |  SELECT o.seg,
      |    CAST(FLOOR(ABS(CAST(v AS DOUBLE)
      |      - CAST(sg AS DOUBLE) / ng) + 0.5) AS BIGINT) AS zq
      |  FROM o JOIN mu ON o.seg = mu.seg),
      |g AS (
      |  SELECT seg, COUNT(*) AS nj,
      |    CAST(SUM(CAST(zq AS HUGEINT)) AS HUGEINT) AS sj,
      |    CAST(SUM(CAST(zq AS HUGEINT) * zq) AS HUGEINT) AS qj
      |  FROM dev GROUP BY seg),
      |t AS (
      |  SELECT seg, nj, sj, qj,
      |    CAST(FLOOR(CAST(sj AS DOUBLE) * CAST(sj AS DOUBLE)
      |      / nj + 0.5) AS BIGINT) AS vq,
      |    CAST(SUM(nj) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(qj) OVER () AS HUGEINT) AS qt
      |  FROM g),
      |t2 AS (
      |  SELECT *, CAST(SUM(vq) OVER () AS BIGINT) AS sv,
      |    CAST(SUM(sj) OVER () AS HUGEINT) AS st
      |  FROM t),
      |f AS (
      |  SELECT seg, nj, sj, nt,
      |    sv - CAST(FLOOR(CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
      |      / nt + 0.5) AS BIGINT) AS ssb,
      |    qt - CAST(sv AS HUGEINT) AS ssw
      |  FROM t2)
      |SELECT seg AS c_mktsegment, nj,
      |  ROUND(CAST(sj AS DOUBLE) / nj, 4) + 0
      |    AS mean_absdev_dollars,
      |  ROUND((CAST(ssb AS DOUBLE) / 4.0)
      |    / (CAST(ssw AS DOUBLE) / (CAST(nt AS DOUBLE) - 5.0)), 4) + 0
      |    AS levene_stat,
      |  4 AS df1, nt - 5 AS df2
      |FROM f ORDER BY c_mktsegment""".stripMargin

  /** L344 Quade test *(added r19; [PK] Quade 1979; Conover, Practical
    * Nonparametric Statistics §5.8)* — the blocked design's third
    * member: q241's Friedman weights every month equally; Quade
    * weights each block by the RANK of its raw revenue RANGE, so
    * months where priorities actually differ dominate — more power
    * than Friedman at k ≤ 5 when block effects differ in size (the
    * documented regime; Conover's recommendation for small k).
    * Frame = q241 verbatim: blocks = 5-priority-complete months,
    * within-block doubled midranks R2ᵢⱼ; block weights Q2ᵢ = doubled
    * midrank of the block range Dᵢ = max−min monthly revenue across
    * blocks; S4ᵢⱼ = Q2ᵢ·(R2ᵢⱼ − 6) = 4·Qᵢ(R̄ᵢⱼ − 3); F =
    * (b−1)·ΣⱼS4ⱼ² / (b·ΣᵢⱼS4ᵢⱼ² − ΣⱼS4ⱼ²), df (k−1, (b−1)(k−1)).
    *
    * Parity: both rank layers ride the q241 doubled-midrank
    * construction (exact under ties); Dᵢ is an exact int64 difference
    * of whole-dollar sums; S4, A16 = ΣS4², B16 = ΣS4ⱼ² all exact
    * int64 (|S4| ≤ 2b·4, A16 ≤ 80·5·680² ≈ 2e8 at fixture b); F is
    * ONE guarded double division (clamped — the all-blocks-tied
    * degenerate makes the denominator exactly 0, nulled).
    *
    * Scale: the q241 shape — one (month, priority) census, two
    * census-sized window ranks (month-partitioned 5-row windows + one
    * b-row block-rank window), b-row broadcast join back, ≤5-row
    * algebra. */
  def q409Quade(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.orders(s, dir)
      .groupBy(trunc(col("o_orderdate"), "month").as("mon"),
        col("o_orderpriority").as("pr"))
      .agg(sum(floor(col("o_totalprice") + 0.5).cast("long")).as("rev"))
    val wMon = Window.partitionBy("mon")
    val complete = d.withColumn("npr", count(lit(1)).over(wMon))
      .filter(col("npr") === 5)
    val wRank = Window.partitionBy("mon").orderBy("rev")
    val wTies = Window.partitionBy("mon", "rev")
    val ranked = complete
      .withColumn("r2",
        lit(2) * rank().over(wRank) + count(lit(1)).over(wTies) - 1)
    // block weights: doubled midrank of the raw range across blocks
    val blocks = complete.groupBy("mon")
      .agg((max(col("rev")) - min(col("rev"))).as("dr"))
    val wB = Window.orderBy("dr")
    val wBT = Window.partitionBy("dr")
    val wb = blocks
      .withColumn("q2",
        lit(2) * rank().over(wB) + count(lit(1)).over(wBT) - 1)
      .select(col("mon"), col("q2"))
    val s4 = ranked.join(broadcast(wb), "mon")
      .select(col("pr"),
        (col("q2").cast("long") * (col("r2").cast("long") - 6L)).as("s4"))
    val g = s4.groupBy("pr")
      .agg(count(lit(1)).as("b"), sum(col("s4")).as("s4j"),
        sum(col("s4") * col("s4")).as("a16j"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g
      .withColumn("a16", sum(col("a16j")).over(wAll))
      .withColumn("b16", sum(col("s4j") * col("s4j")).over(wAll))
    val bD = col("b").cast("double")
    val den = bD * col("a16").cast("double") - col("b16").cast("double")
    val f = (bD - 1.0) * col("b16").cast("double") /
      greatest(den, lit(1e-300))
    t.select(col("pr").as("o_orderpriority"), col("b").as("n_blocks"),
        col("s4j").as("s4_j"),
        when(den <= 0.0, lit(null).cast("double"))
          .otherwise(round(f, 4) + 0.0).as("quade_f"),
        lit(4).as("df1"), ((col("b") - 1) * 4).as("df2"))
      .orderBy("o_orderpriority")
  }

  val q409QuadeSql: String =
    """WITH d AS (
      |  SELECT date_trunc('month', CAST(o_orderdate AS DATE)) AS mon,
      |    o_orderpriority AS pr,
      |    CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |complete AS (
      |  SELECT * FROM (
      |    SELECT *, COUNT(*) OVER (PARTITION BY mon) AS npr FROM d)
      |  WHERE npr = 5),
      |ranked AS (
      |  SELECT mon, pr,
      |    2 * RANK() OVER (PARTITION BY mon ORDER BY rev)
      |      + COUNT(*) OVER (PARTITION BY mon, rev) - 1 AS r2
      |  FROM complete),
      |blocks AS (
      |  SELECT mon, MAX(rev) - MIN(rev) AS dr
      |  FROM complete GROUP BY mon),
      |wb AS (
      |  SELECT mon,
      |    2 * RANK() OVER (ORDER BY dr)
      |      + COUNT(*) OVER (PARTITION BY dr) - 1 AS q2
      |  FROM blocks),
      |s4 AS (
      |  SELECT pr, CAST(q2 AS BIGINT) * (CAST(r2 AS BIGINT) - 6) AS s4
      |  FROM ranked JOIN wb USING (mon)),
      |g AS (
      |  SELECT pr, COUNT(*) AS b, CAST(SUM(s4) AS BIGINT) AS s4j,
      |    CAST(SUM(s4 * s4) AS BIGINT) AS a16j
      |  FROM s4 GROUP BY pr),
      |t AS (
      |  SELECT *, CAST(SUM(a16j) OVER () AS BIGINT) AS a16,
      |    CAST(SUM(s4j * s4j) OVER () AS BIGINT) AS b16
      |  FROM g)
      |SELECT pr AS o_orderpriority, b AS n_blocks, s4j AS s4_j,
      |  CASE WHEN CAST(b AS DOUBLE) * CAST(a16 AS DOUBLE)
      |      - CAST(b16 AS DOUBLE) <= 0.0 THEN NULL
      |    ELSE ROUND((CAST(b AS DOUBLE) - 1.0) * CAST(b16 AS DOUBLE)
      |      / GREATEST(CAST(b AS DOUBLE) * CAST(a16 AS DOUBLE)
      |          - CAST(b16 AS DOUBLE), 1e-300), 4) + 0 END AS quade_f,
      |  4 AS df1, (b - 1) * 4 AS df2
      |FROM t ORDER BY pr""".stripMargin

  /** L345 Cuzick trend test *(added r19; [PK] Cuzick 1985, "A
    * Wilcoxon-type test for trend", Stat. Med. 4:87–90)* — the rank
    * analogue of q234's Cochran–Armitage (which needs binary
    * outcomes) and the POOLED-rank complement of q254's
    * Jonckheere–Terpstra (which sums pairwise dominance counts):
    * score the ordered groups (priority level lᵢ = 1…5), rank ALL
    * order values in one pooled ranking, and test T = Σ lᵢRᵢ against
    * its permutation moments E[T] = (N+1)/2·Σlⱼnⱼ, Var[T] =
    * (N+1)/12·(N·Σlⱼ²nⱼ − (Σlⱼnⱼ)²) with the standard ties factor
    * (1 − Σ(t³−t)/(N³−N), the q227 correction applied to the trend
    * variance). One pooled ranking instead of O(k²) pairwise scans —
    * the 100 TB-friendly member of the ordered-alternative ladder.
    *
    * Parity: pooled doubled midranks via the q227 cent-census +
    * PrefixSum (exact under ties); T2 = Σl·R2ⱼ and the moment inputs
    * Σlⱼnⱼ, Σlⱼ²nⱼ, Σ(t³−t) are exact int64/DECIMAL(38); z is ONE
    * guarded double chain 4dp (variance clamp, degenerate nulled).
    *
    * Scale: one value census + PrefixSum (the q227 shape: exchanged
    * volume ∝ distinct cents), one ≤5-group fold. */
  def q410CuzickTrend(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir)
      .select(substring(col("o_orderpriority"), 1, 1).cast("long").as("l"),
        Parity.quant(col("o_totalprice"), 100.0).as("c"))
    val cen = o.groupBy("c").agg(count(lit(1)).as("n"))
    // r20 (verdict mandate #2): tie totals fused into the prefix pass —
    // the q227 note applies verbatim
    val cum = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
      Seq(col("c")), Seq((col("n"), "cumn")), Nil,
      Seq((col("n").cast(dec) * col("n").cast(dec) * col("n").cast(dec) -
        col("n").cast(dec), "tie")))
      .select(col("c"), col("n"), (col("cumn") * 2 - col("n") + 1).as("r2"),
        col("tie"))
    val byg = o.groupBy("l", "c").agg(count(lit(1)).as("ncs"))
      .join(cum, "c")
      .groupBy("l")
      .agg(sum(col("ncs")).as("nj"),
        sum(col("ncs").cast(dec) * col("r2").cast(dec)).as("r2j"),
        max(col("tie")).as("tie"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = byg
      .withColumn("nt", sum(col("nj")).over(wAll))
      .withColumn("t2", sum(col("l").cast(dec) * col("r2j")).over(wAll))
      .withColumn("l1", sum(col("l") * col("nj")).over(wAll))
      .withColumn("l2", sum(col("l") * col("l") * col("nj")).over(wAll))
    val nD = col("nt").cast("double")
    val corr = lit(1.0) - col("tie").cast("double") / (nD * nD * nD - nD)
    // doubled units: T2 = 2T, E[T2] = (N+1)·L1, Var[T2] = 4·Var[T]
    val eT2 = (nD + 1.0) * col("l1").cast("double")
    val varT2 = (nD + 1.0) / 3.0 *
      (nD * col("l2").cast("double") -
        col("l1").cast("double") * col("l1").cast("double")) * corr
    val z = (col("t2").cast("double") - eT2) /
      sqrt(greatest(varT2, lit(1e-300)))
    t.select(col("l").as("priority_level"), col("nj").as("n_orders"),
        (round(col("r2j").cast("double") /
          (col("nj").cast("double") * 2.0), 4) + 0.0).as("mean_rank"),
        when(varT2 <= 0.0, lit(null).cast("double"))
          .otherwise(round(z, 4) + 0.0).as("z_trend"))
      .orderBy("priority_level")
  }

  val q410CuzickTrendSql: String =
    """WITH o AS (
      |  SELECT CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS l,
      |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS c
      |  FROM orders),
      |cen AS (SELECT c, COUNT(*) AS n FROM o GROUP BY c),
      |cum AS (
      |  SELECT c, n,
      |    2 * SUM(n) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
      |      - n + 1 AS r2
      |  FROM cen),
      |tie AS (
      |  SELECT CAST(SUM(CAST(n AS HUGEINT) * n * n - n) AS HUGEINT)
      |    AS tie FROM cen),
      |byg AS (
      |  SELECT l, CAST(SUM(ncs) AS BIGINT) AS nj,
      |    CAST(SUM(CAST(ncs AS HUGEINT) * r2) AS HUGEINT) AS r2j
      |  FROM (SELECT l, c, COUNT(*) AS ncs FROM o GROUP BY l, c)
      |  JOIN cum USING (c) GROUP BY l),
      |t AS (
      |  SELECT *,
      |    CAST(SUM(nj) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(CAST(l AS HUGEINT) * r2j) OVER () AS HUGEINT) AS t2,
      |    CAST(SUM(l * nj) OVER () AS BIGINT) AS l1,
      |    CAST(SUM(l * l * nj) OVER () AS BIGINT) AS l2
      |  FROM byg),
      |f AS (
      |  SELECT l, nj, r2j, nt, t2, l1, l2, tie,
      |    (CAST(nt AS DOUBLE) + 1.0) * CAST(l1 AS DOUBLE) AS et2,
      |    (CAST(nt AS DOUBLE) + 1.0) / 3.0
      |      * (CAST(nt AS DOUBLE) * CAST(l2 AS DOUBLE)
      |        - CAST(l1 AS DOUBLE) * CAST(l1 AS DOUBLE))
      |      * (1.0 - CAST(tie AS DOUBLE)
      |        / (CAST(nt AS DOUBLE) * CAST(nt AS DOUBLE)
      |          * CAST(nt AS DOUBLE) - CAST(nt AS DOUBLE))) AS vart2
      |  FROM t, tie)
      |SELECT l AS priority_level, nj AS n_orders,
      |  ROUND(CAST(r2j AS DOUBLE) / (CAST(nj AS DOUBLE) * 2.0), 4) + 0
      |    AS mean_rank,
      |  CASE WHEN vart2 <= 0.0 THEN NULL
      |    ELSE ROUND((CAST(t2 AS DOUBLE) - et2)
      |      / SQRT(GREATEST(vart2, 1e-300)), 4) + 0 END AS z_trend
      |FROM f ORDER BY priority_level""".stripMargin
}
