package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-profiling and drift operators, split out of
  * CurationQueries in round 12: column entropy, PSI, exact KS/EMD,
  * quantile normalization, ROC AUC, calibration, agreement (kappa),
  * inequality (Theil, Atkinson), outlier screens (Tukey, MAD), Poisson
  * bootstrap CIs, and Neyman allocation. All are census-collapsed
  * before any window (the q147 discipline); the unpartitioned windows
  * ride value censuses, never fact rows.
  */
object DriftQueries {
  /** Categorical column profiling with Shannon entropy — the
    * value-distribution half of data profiling ([[DataQuality.profile]]
    * is the one-pass count/null/HLL half): per column, row count,
    * distinct values (null counted as a value), null mass, entropy in
    * nats, and the modal value's share. Low entropy or a top-share near
    * 1 flags a near-constant column; entropy near ln(k) flags uniform
    * codes — the screens a schema-mapping step runs before trusting a
    * field.
    *
    * Parity: counts are exact; each p·ln p entropy term is
    * nano-quantized BEFORE the per-column sum (r16 libm-sum audit —
    * the seed-122 class: raw libm terms carry ~1-ulp cross-engine
    * drift and summed drift walks onto the round(4) grid); `+ 0.0`
    * normalizes the single-value column's −0.0 (q111 discipline).
    * p = n/tot is int64→double division, IEEE-identical.
    *
    * Scale: stack → one (column, value) hash agg, map-side combinable;
    * the entropy window runs over ≤ |values| rows per column. Columns
    * profiled in one pass regardless of table count — unions, not
    * joins. */
  def q122ColumnEntropy(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = Tables.lineitem(s, dir).selectExpr(
      "stack(2, 'l_returnflag', l_returnflag, 'l_linestatus', l_linestatus) as (col_name, val)")
    val o = Tables.orders(s, dir).selectExpr(
      "stack(2, 'o_orderstatus', o_orderstatus, 'o_orderpriority', o_orderpriority) as (col_name, val)")
    val c = l.unionAll(o).groupBy("col_name", "val")
      .agg(count(lit(1)).as("n"))
    val t = c.withColumn("tot",
      sum(col("n")).over(Window.partitionBy("col_name")))
    // r16 libm-sum audit: each p·ln p term is libm-drifty (~1 ulp per
    // engine); quantize every term to nano BEFORE the cross-row sum so
    // both engines round the identical accumulated argument (the
    // seed-122 q175 convention).
    val plnp9 = Parity.quant((col("n") / col("tot")) *
      log(col("n") / col("tot")), 1e9)
    t.groupBy("col_name")
      .agg(max(col("tot")).as("n_rows"),
        count(lit(1)).as("n_distinct"),
        coalesce(sum(when(col("val").isNull, col("n"))), lit(0L)).as("n_null"),
        (round(-(sum(plnp9).cast("double") / 1e9), 4) + 0.0).as("entropy"),
        round(max(col("n")).cast("double") / max(col("tot")), 4).as("top_share"))
      .orderBy("col_name")
  }

  val q122ColumnEntropySql: String =
    """WITH v AS (
      |  SELECT 'l_returnflag' AS col_name, l_returnflag AS val FROM lineitem
      |  UNION ALL SELECT 'l_linestatus', l_linestatus FROM lineitem
      |  UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      |  UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders),
      |c AS (SELECT col_name, val, COUNT(*) AS n FROM v GROUP BY col_name, val),
      |t AS (SELECT col_name, val, n,
      |        CAST(SUM(n) OVER (PARTITION BY col_name) AS BIGINT) AS tot
      |      FROM c)
      |SELECT col_name,
      |  MAX(tot) AS n_rows,
      |  COUNT(*) AS n_distinct,
      |  CAST(COALESCE(SUM(n) FILTER (WHERE val IS NULL), 0) AS BIGINT) AS n_null,
      |  ROUND(-(CAST(SUM(CAST(FLOOR((CAST(n AS DOUBLE) / tot)
      |      * LN(CAST(n AS DOUBLE) / tot) * 1e9 + 0.5) AS BIGINT))
      |    AS DOUBLE) / 1e9), 4) + 0 AS entropy,
      |  ROUND(CAST(MAX(n) AS DOUBLE) / MAX(tot), 4) AS top_share
      |FROM t GROUP BY col_name ORDER BY col_name""".stripMargin

  /** Population Stability Index — THE production drift metric: bin the
    * monitored feature by the BASE period's exact deciles, compare the
    * comparison period's bin shares, PSI = Σ (p_b − p_a)·ln(p_b/p_a).
    * Rule of thumb: < 0.1 stable, 0.1–0.25 drifting, > 0.25 act. Here:
    * order prices, pre-1999 as base vs 1999+ as comparison, one row per
    * decile with its PSI term (the total is the sum — emitting terms
    * localizes WHERE the distribution moved, which is the part a
    * monitoring dashboard actually shows).
    *
    * Parity: cut points are exact decile percentiles on int64 cents
    * (the A10 `percentile` == `quantile_cont` contract); bin assignment
    * counts cuts below the value (identical comparison semantics);
    * counts exact; the ln tree is identical-association (the
    * q121/q43 ln precedent) and rounds at 6.
    *
    * Scale: one agg for cuts (9-value array broadcast, the q88
    * one-row-bounds pattern — allowlisted BNLJ), one map-side bin
    * projection, one ≤10-group agg. No windows over fact rows. */
  def q146Psi(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"),
      (col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .as("is_new"))
    val cuts = o.filter(!col("is_new"))
      .agg(expr(
        "percentile(pc, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))")
        .as("c"))
    val binned = o.crossJoin(broadcast(cuts))
      .withColumn("bin",
        lit(1) + size(filter(col("c"),
          x => col("pc").cast("double") > x)))
    val t = binned.groupBy("bin")
      .agg(count(when(!col("is_new"), 1)).as("na"),
        count(when(col("is_new"), 1)).as("nb"))
    // period totals in-plan (r13, closing the .head() sweep): the
    // mirror already sums them FROM the bin table, so a whole-frame
    // window over the ≤10-row bin census carries them without a second
    // orders scan OR a second nested-loop broadcast
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ta = sum(col("na")).over(whole)
    val tb = sum(col("nb")).over(whole)
    // Fuzz hardening (r12): an EMPTY bin on either side makes the raw
    // term ln(0) — a DuckDB error and a Spark null. Standard PSI
    // zero-bin handling: clamp each proportion to ≥ 1e-9 (no-op
    // whenever the bin is populated — the smallest real proportion is
    // 1/|period|, orders of magnitude above the clamp until periods
    // exceed 1e9 rows, where a zero bin is the only sub-clamp case).
    // An empty PERIOD (ta or tb = 0) leaves PSI undefined → null terms.
    val pa = greatest(col("na").cast("double") / greatest(ta, lit(1L)),
      lit(1e-9))
    val pb = greatest(col("nb").cast("double") / greatest(tb, lit(1L)),
      lit(1e-9))
    val term = when(ta === 0L || tb === 0L, lit(null).cast("double"))
      .otherwise(round((pb - pa) * log(pb / pa), 6))
    t.select(col("bin"), col("na"), col("nb"), term.as("psi_term"))
      .orderBy("bin")
  }

  val q146PsiSql: String =
    """WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    o_orderdate >= TIMESTAMP '1999-01-01' AS is_new
      |  FROM orders),
      |cuts AS (
      |  SELECT list_transform(
      |    quantile_cont(pc, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
      |    x -> CAST(x AS DOUBLE)) AS c
      |  FROM o WHERE NOT is_new),
      |t AS (
      |  SELECT 1 + len(list_filter((SELECT c FROM cuts),
      |           x -> CAST(pc AS DOUBLE) > x)) AS bin,
      |    COUNT(*) FILTER (WHERE NOT is_new) AS na,
      |    COUNT(*) FILTER (WHERE is_new) AS nb
      |  FROM o GROUP BY 1),
      |tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM t),
      |p AS (
      |  SELECT bin, na, nb,
      |    GREATEST(CAST(na AS DOUBLE) / GREATEST(ta, 1), 1e-9) AS pa,
      |    GREATEST(CAST(nb AS DOUBLE) / GREATEST(tb, 1), 1e-9) AS pb,
      |    ta, tb
      |  FROM t, tot)
      |SELECT bin, na, nb,
      |  CASE WHEN ta = 0 OR tb = 0 THEN NULL
      |       ELSE ROUND((pb - pa) * LN(pb / pa), 6) END AS psi_term
      |FROM p ORDER BY bin""".stripMargin

  /** Exact two-sample Kolmogorov–Smirnov distance between the base and
    * comparison price distributions — the nonparametric partner of
    * q146's binned PSI: KS = max |CDF_a − CDF_b| over the merged value
    * domain, computed EXACTLY in integers by cross-multiplying the
    * cumulative counts (|cum_a·n_b − cum_b·n_a|, divided once at the
    * end) — no floating-point CDFs, no binning approximation.
    *
    * Scale: the fact table collapses to the distinct-cents histogram in
    * a map-side agg; the cumulative counts then come from [[PrefixSum]]
    * — range-partitioned local cumsums + partition-count offsets — so
    * the global CDF needs NO single-partition window even though its
    * order spans the whole value domain (DuckDB states the same thing
    * with a plain window, fine for an oracle). The final max is one
    * scan. Int64 budget: cum·n ≤ n², safe through ~3·10⁹ rows/side.
    *
    * Parity: everything before the final division is exact int64; ties
    * are immaterial because the CDF is read per distinct value (the
    * PrefixSum tie contract). */
  def q147Ks(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"),
      (col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .as("is_new"))
    val h = o.groupBy("pc")
      .agg(count(when(!col("is_new"), 1)).as("ca"),
        count(when(col("is_new"), 1)).as("cb"))
    // r20 (verdict mandate #2): side totals fused into the prefix pass
    // (r13 read them back as max-of-cumulative; the fused form costs
    // zero extra jobs — the driver already holds the partials)
    val c = PrefixSum.withPrefixSumsAndTotals(h, Seq(col("pc")),
      Seq((col("ca"), "cuma"), (col("cb"), "cumb")), Nil,
      Seq((col("ca"), "ta"), (col("cb"), "tb")))
    // Fuzz hardening (r12): an empty side leaves the KS distance
    // undefined — null, not a divide-by-zero crash
    c.agg(max(abs(col("cuma") * col("tb") - col("cumb") * col("ta")))
          .as("ks_num"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      .select(col("ks_num"), (col("ta") * col("tb")).as("ks_den"),
        when(col("ta") === 0L || col("tb") === 0L,
          lit(null).cast("double"))
          .otherwise(round(col("ks_num").cast("double") /
            (col("ta") * col("tb")), 6)).as("ks"))
  }

  val q147KsSql: String =
    """WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    o_orderdate >= TIMESTAMP '1999-01-01' AS is_new
      |  FROM orders),
      |h AS (
      |  SELECT pc, COUNT(*) FILTER (WHERE NOT is_new) AS ca,
      |    COUNT(*) FILTER (WHERE is_new) AS cb
      |  FROM o GROUP BY pc),
      |c AS (
      |  SELECT pc,
      |    SUM(ca) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(cb) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb
      |  FROM h),
      |tot AS (SELECT SUM(ca) AS ta, SUM(cb) AS tb FROM h)
      |SELECT CAST(MAX(ABS(cuma * tb - cumb * ta)) AS BIGINT) AS ks_num,
      |  CAST(MAX(ta * tb) AS BIGINT) AS ks_den,
      |  CASE WHEN MAX(ta * tb) = 0 THEN NULL
      |       ELSE ROUND(CAST(MAX(ABS(cuma * tb - cumb * ta)) AS DOUBLE)
      |         / MAX(ta * tb), 6) END AS ks
      |FROM c, tot""".stripMargin

  /** L118 quantile normalization (Bolstad et al. 2003): force every
    * source's n_chars distribution onto the pooled reference — each
    * document's value is replaced by the MEAN across sources of the
    * value at its within-source rank. The batch-effect corrector for
    * multi-source corpora: after it, every source has literally the
    * same marginal distribution, so downstream length filters can't
    * favor one feed. Distinct from winsorize (L58: clips tails
    * per-group) and PSI (L75: measures drift, doesn't fix it).
    *
    * Parity: ranks are tie-broken row_numbers (exact), the reference
    * is one double division of exact int64 sum/count per rank, rounded
    * 4dp — no float accumulation across rows.
    *
    * Scale: the within-source rank is a per-source sort — at fixture
    * scale one |sources|-partition window; at 100 TB the same rank
    * comes from the L35/L77 range-partitioned machinery (RangedNtile's
    * sampled cutpoints + per-range offsets), same semantics. The
    * reference table is rank-keyed (rows = max group size, corpus/
    * |sources|) and joins back as the small side. */
  def q180QuantileNorm(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
    val ranked = d.withColumn("rnk", row_number().over(
      Window.partitionBy(col("source")).orderBy(col("n_chars"), col("doc_id"))))
    val ref = ranked.groupBy("rnk")
      .agg(sum(col("n_chars")).as("s"), count(lit(1)).as("c"))
    ranked.join(ref, "rnk")
      .select(col("doc_id"), col("source"), col("n_chars"),
        round(col("s").cast("double") / col("c").cast("double"), 4).as("qn"))
      .orderBy("doc_id")
  }

  val q180QuantileNormSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, source, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY n_chars, doc_id) AS rnk
      |  FROM documents),
      |ref AS (
      |  SELECT rnk, CAST(SUM(n_chars) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM ranked GROUP BY rnk)
      |SELECT doc_id, source, n_chars,
      |  ROUND(CAST(s AS DOUBLE) / CAST(c AS DOUBLE), 4) AS qn
      |FROM ranked JOIN ref USING (rnk)
      |ORDER BY doc_id""".stripMargin

  /** L120 exact 1-D Wasserstein distance (earth mover's): W₁ between
    * the focus source's n_chars distribution and the rest — the
    * INTEGRATED CDF deviation ∫|F₁−F₂|dx, the drift measure that sees
    * magnitude where KS (L76, max deviation) sees only the worst point
    * and PSI (L75) sees only bin occupancy. num = Σ_s |cuma·tb −
    * cumb·ta|·Δ_s stays an exact int64 (sf ≲ 10³; DECIMAL(38) lift
    * documented past that); W₁ is one final division by ta·tb.
    *
    * Scale: the q147 shape end-to-end — value-domain-bounded census,
    * [[PrefixSum]] running counts, and the "next distinct value" gap
    * WITHOUT a global lead window: the row index is just a prefix sum
    * of ones, so Δ comes from an equi-join on idx+1. */
  def q182Emd(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("n_chars").as("sc"),
      (col("source") === "src0").as("pos"))
    val h = d.groupBy("sc")
      .agg(count(when(col("pos"), 1)).as("p"),
        count(when(!col("pos"), 1)).as("q"))
    // r20 (verdict mandate #2): side totals fused into the prefix pass
    // (r13 read them back as max-of-cumulative; the fused form costs
    // zero extra jobs — the driver already holds the partials)
    val c = PrefixSum.withPrefixSumsAndTotals(h, Seq(col("sc")),
      Seq((lit(1L), "idx"), (col("p"), "cuma"), (col("q"), "cumb")), Nil,
      Seq((col("p"), "ta"), (col("q"), "tb")))
    val nxt = c.select((col("idx") - 1L).as("idx"), col("sc").as("next_sc"))
    c.join(nxt, Seq("idx"), "left")
      .agg(sum(abs(col("cuma") * col("tb") - col("cumb") * col("ta")) *
          (coalesce(col("next_sc"), col("sc")) - col("sc"))).as("w1_num"),
        max(col("ta")).as("ta"), max(col("tb")).as("tb"))
      .select(col("w1_num"), (col("ta") * col("tb")).as("w1_den"),
        round(col("w1_num").cast("double") /
          (col("ta") * col("tb")).cast("double"), 6).as("w1"))
  }

  val q182EmdSql: String =
    """WITH d AS (
      |  SELECT n_chars AS sc, source = 'src0' AS pos FROM documents),
      |h AS (
      |  SELECT sc, COUNT(*) FILTER (WHERE pos) AS p,
      |    COUNT(*) FILTER (WHERE NOT pos) AS q
      |  FROM d GROUP BY sc),
      |c AS (
      |  SELECT sc, p, q,
      |    SUM(p) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cuma,
      |    SUM(q) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumb,
      |    LEAD(sc) OVER (ORDER BY sc) AS next_sc
      |  FROM h),
      |tot AS (SELECT SUM(p) AS ta, SUM(q) AS tb FROM h)
      |SELECT
      |  CAST(SUM(ABS(cuma * tb - cumb * ta)
      |    * (COALESCE(next_sc, sc) - sc)) AS BIGINT) AS w1_num,
      |  CAST(MAX(ta * tb) AS BIGINT) AS w1_den,
      |  ROUND(CAST(SUM(ABS(cuma * tb - cumb * ta)
      |    * (COALESCE(next_sc, sc) - sc)) AS DOUBLE)
      |    / MAX(ta * tb), 6) AS w1
      |FROM c, tot""".stripMargin

  /** L129 Theil T inequality decomposition (Theil 1967 [PK]) of order
    * values by priority class — the inequality statistic Gini (q150)
    * can't give: Theil decomposes EXACTLY into within-group +
    * between-group terms (T = Σ_g w_g·T_g + Σ_g w_g·ln(μ_g/μ),
    * w_g = (n_g/N)(μ_g/μ)), so "is order-value inequality driven by
    * priority mix or within-class spread?" is answerable from the
    * emitted per-group rows alone; RankStatSpec pins the decomposition
    * identity against a driver brute force.
    *
    * Parity: group sums are exact decimals; means divide exact casts;
    * each row's (x/μ_g)ln(x/μ_g) term is nano-quantized before the
    * per-group integer SUM; the between/weight terms are a fixed
    * int→double chain off the ≤|priorities|-row aggregate.
    *
    * Scale: one keyed window for μ_g (partitioned on priority), one
    * keyed agg, then a ≤5-row unpartitioned window for the global
    * totals — the only single-partition window in the plan runs over
    * five rows. */
  def q191Theil(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        dm(col("o_totalprice")).as("x"))
    val wg = Window.partitionBy("priority")
    val mug = sum(col("x")).over(wg).cast("double") /
      count(lit(1)).over(wg).cast("double")
    val xr = col("x").cast("double") / col("mug")
    val perGroup = o.withColumn("mug", mug)
      .select(col("priority"), col("mug"),
        Parity.quant(xr * log(xr), 1e9).as("tq"),
        col("x"))
      .groupBy("priority")
      .agg(count(lit(1)).as("n"), max(col("mug")).as("mu_g"),
        sum(col("x")).as("sum_g"), sum("tq").as("sq"))
    val wAll = Window.partitionBy()
    val bigN = sum(col("n")).over(wAll)
    val mu = sum(col("sum_g")).over(wAll).cast("double") /
      sum(col("n")).over(wAll).cast("double")
    perGroup
      .withColumn("mu", mu).withColumn("big_n", bigN)
      .select(col("priority"), col("n"), col("mu_g"),
        ((col("sq").cast("double") / lit(1.0e9)) /
          col("n").cast("double")).as("theil_within"),
        ((col("n").cast("double") / col("big_n").cast("double")) *
          (col("mu_g") / col("mu"))).as("weight"),
        // nano-quantized: the weight·ln(mu_g/mu) chain was the one
        // unquantized cross-libm double here (r12 fuzz find, 1 ulp)
        Parity.fix(((col("n").cast("double") / col("big_n").cast("double")) *
          (col("mu_g") / col("mu"))) * log(col("mu_g") / col("mu")), 9)
          .as("between_term"))
      .orderBy("priority")
  }

  val q191TheilSql: String =
    s"""WITH o AS (
       |  SELECT o_orderpriority AS priority,
       |    CAST(o_totalprice AS ${Parity.DM}) AS x
       |  FROM orders),
       |r AS (
       |  SELECT priority, x,
       |    CAST(SUM(x) OVER (PARTITION BY priority) AS DOUBLE)
       |      / CAST(COUNT(*) OVER (PARTITION BY priority) AS DOUBLE) AS mug
       |  FROM o),
       |g AS (
       |  SELECT priority, COUNT(*) AS n, MAX(mug) AS mu_g,
       |    SUM(x) AS sum_g,
       |    CAST(SUM(CAST(FLOOR(
       |      (CAST(x AS DOUBLE) / mug) * ln(CAST(x AS DOUBLE) / mug)
       |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS sq
       |  FROM r GROUP BY priority),
       |t AS (
       |  SELECT priority, n, mu_g, sq,
       |    CAST(SUM(n) OVER () AS BIGINT) AS big_n,
       |    CAST(SUM(sum_g) OVER () AS DOUBLE)
       |      / CAST(SUM(n) OVER () AS DOUBLE) AS mu
       |  FROM g)
       |SELECT priority, n, mu_g,
       |  (CAST(sq AS DOUBLE) / 1e9) / CAST(n AS DOUBLE) AS theil_within,
       |  (CAST(n AS DOUBLE) / CAST(big_n AS DOUBLE)) * (mu_g / mu) AS weight,
       |  FLOOR(((CAST(n AS DOUBLE) / CAST(big_n AS DOUBLE)) * (mu_g / mu))
       |    * ln(mu_g / mu) * 1e9 + 0.5) / 1e9 AS between_term
       |FROM t ORDER BY priority""".stripMargin

  /** L148 Tukey-fence outlier audit (Tukey 1977 [PK], the boxplot
    * rule): per market segment, the quartiles of per-CUSTOMER lifetime
    * revenue and the count/share of customers outside
    * [Q1 − 1.5·IQR, Q3 + 1.5·IQR] — the standard first-pass anomaly
    * screen before any model-based scoring (q97's z-score screen
    * assumes normality; this doesn't).
    *
    * Round 11 de-vacuification (the q175 lesson): the original screen
    * ran on raw order value, whose bounded near-uniform distribution
    * puts ZERO mass beyond 1.5·IQR at every SF — hash-green while
    * flagging nothing. Per-customer revenue is a random SUM over a
    * skewed order count, so its right tail genuinely crosses the
    * fence (2 / 20 / 156 customers flagged at sf0.001/0.01/0.1 —
    * measured, and pinned by NonDegeneracySpec).
    *
    * Parity: per-customer revenue is an exact int64 cents sum;
    * quartiles interpolate on int64, so Q1/Q3 are exact multiples of
    * 0.25 (representable), 1.5·IQR is an exact multiple of 0.125, and
    * the fences pin to integer cents with half-up floor(x+0.5) — the
    * outlier decision is then an INT comparison that can never flip
    * across engines. Displayed quartiles round 4dp (q15 discipline).
    *
    * Scale: the customer rollup is one map-side-combinable agg; then
    * one exact-percentile agg per segment (driver-bounded ≤5 rows; at
    * fact scale the same quartiles come from q98's [[RangedNtile]]
    * machinery), broadcast back over one customer-grain scan. */
  def q214TukeyFences(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("c"))
    val q = o.groupBy("seg")
      .agg(percentile(col("c"), lit(0.25)).as("q1"),
        percentile(col("c"), lit(0.75)).as("q3"))
      .select(col("seg"), col("q1"), col("q3"),
        floor(col("q1") - (col("q3") - col("q1")) * 1.5 + 0.5)
          .cast("long").as("flo"),
        floor(col("q3") + (col("q3") - col("q1")) * 1.5 + 0.5)
          .cast("long").as("fhi"))
    o.join(broadcast(q), "seg")
      .groupBy("seg")
      .agg(count(lit(1)).as("n_customers"),
        max(round(col("q1") / 100.0, 4) + 0.0).as("q1_rev"),
        max(round(col("q3") / 100.0, 4) + 0.0).as("q3_rev"),
        sum(when(col("c") < col("flo"), 1L).otherwise(0L)).as("n_out_lo"),
        sum(when(col("c") > col("fhi"), 1L).otherwise(0L)).as("n_out_hi"))
      .select(col("seg").as("c_mktsegment"), col("n_customers"),
        col("q1_rev"), col("q3_rev"), col("n_out_lo"), col("n_out_hi"),
        (round((col("n_out_lo") + col("n_out_hi")).cast("double") /
          col("n_customers").cast("double"), 6) + 0.0).as("outlier_share"))
      .orderBy("c_mktsegment")
  }

  val q214TukeyFencesSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg, c_custkey,
      |    SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |q AS (
      |  SELECT seg, quantile_cont(c, 0.25) AS q1, quantile_cont(c, 0.75) AS q3,
      |    CAST(FLOOR(quantile_cont(c, 0.25)
      |      - 1.5 * (quantile_cont(c, 0.75) - quantile_cont(c, 0.25))
      |      + 0.5) AS BIGINT) AS flo,
      |    CAST(FLOOR(quantile_cont(c, 0.75)
      |      + 1.5 * (quantile_cont(c, 0.75) - quantile_cont(c, 0.25))
      |      + 0.5) AS BIGINT) AS fhi
      |  FROM o GROUP BY seg)
      |SELECT o.seg AS c_mktsegment, COUNT(*) AS n_customers,
      |  MAX(ROUND(q1 / 100.0, 4) + 0) AS q1_rev,
      |  MAX(ROUND(q3 / 100.0, 4) + 0) AS q3_rev,
      |  CAST(SUM(CASE WHEN c < flo THEN 1 ELSE 0 END) AS BIGINT) AS n_out_lo,
      |  CAST(SUM(CASE WHEN c > fhi THEN 1 ELSE 0 END) AS BIGINT) AS n_out_hi,
      |  ROUND(CAST(SUM(CASE WHEN c < flo OR c > fhi THEN 1 ELSE 0 END)
      |      AS DOUBLE) / COUNT(*), 6) + 0 AS outlier_share
      |FROM o JOIN q USING (seg)
      |GROUP BY o.seg ORDER BY o.seg""".stripMargin

  /** L149 MAD robust z-score outlier screen: per segment, the median
    * and the Median Absolute Deviation of order value, flagging
    * |x − med| > 3·1.4826·MAD (the Hampel rule; 1.4826 ≈ 1/Φ⁻¹(3/4)
    * makes MAD a consistent σ estimate [PK: Hampel 1974]) — the
    * robust counterpart to q97's mean/stddev screen: one 50%-corrupted
    * cell can't move this threshold, where a single bad value owns a
    * z-score's σ.
    *
    * Round 11 de-vacuification (the q175 lesson, same as q214): raw
    * order value has no tail beyond the Hampel threshold at any SF —
    * the screen was hash-green while flagging nothing. The screen now
    * runs on per-customer lifetime revenue, whose skewed sum
    * distribution genuinely trips the fence (1 / 9 / 77 flagged at
    * sf0.001/0.01/0.1 — measured, pinned by NonDegeneracySpec).
    *
    * Exactness: everything is integer until display. The median of
    * DOUBLED cents is an exact int (interpolation (a+b)/2 on doubled
    * units = a+b); deviations dev2 = |2c − m2| are int64; MAD rides
    * QUADRUPLED units the same way; the flag decision
    * 20000·dev2 > 44478·mad4 (3·1.4826 = 44478/10⁴ exact) is a pure
    * int64 comparison — no float ever decides an outlier.
    *
    * Scale: two exact-percentile censuses (≤5 segments) broadcast back
    * over fact scans — the q214 shape, one extra pass for the
    * deviation median. */
  def q215MadOutliers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("c"))
    val med = o.groupBy("seg")
      .agg(percentile(col("c") * 2, lit(0.5)).cast("long").as("m2"))
    val dev = o.join(broadcast(med), "seg")
      .withColumn("dev2", abs(col("c") * 2 - col("m2")))
    val mad = dev.groupBy("seg")
      .agg((percentile(col("dev2"), lit(0.5)) * 2).cast("long").as("mad4"))
    dev.join(broadcast(mad), "seg")
      .groupBy("seg")
      .agg(count(lit(1)).as("n_customers"),
        max(round(col("m2") / 200.0, 4) + 0.0).as("median_rev"),
        max(round(col("mad4") / 400.0, 4) + 0.0).as("mad_rev"),
        sum(when(col("dev2") * 20000L > col("mad4") * 44478L, 1L)
          .otherwise(0L)).as("n_outliers"))
      .select(col("seg").as("c_mktsegment"), col("n_customers"),
        col("median_rev"), col("mad_rev"), col("n_outliers"),
        (round(col("n_outliers").cast("double") /
          col("n_customers").cast("double"), 6)
          + 0.0).as("outlier_share"))
      .orderBy("c_mktsegment")
  }

  val q215MadOutliersSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg, c_custkey,
      |    SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |med AS (
      |  SELECT seg, CAST(quantile_cont(c * 2, 0.5) AS BIGINT) AS m2
      |  FROM o GROUP BY seg),
      |dev AS (
      |  SELECT seg, c, m2, abs(c * 2 - m2) AS dev2
      |  FROM o JOIN med USING (seg)),
      |mad AS (
      |  SELECT seg, CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
      |  FROM dev GROUP BY seg)
      |SELECT dev.seg AS c_mktsegment, COUNT(*) AS n_customers,
      |  MAX(ROUND(m2 / 200.0, 4) + 0) AS median_rev,
      |  MAX(ROUND(mad4 / 400.0, 4) + 0) AS mad_rev,
      |  CAST(SUM(CASE WHEN dev2 * 20000 > mad4 * 44478 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers,
      |  ROUND(CAST(SUM(CASE WHEN dev2 * 20000 > mad4 * 44478 THEN 1 ELSE 0
      |    END) AS DOUBLE) / COUNT(*), 6) + 0 AS outlier_share
      |FROM dev JOIN mad USING (seg)
      |GROUP BY dev.seg ORDER BY dev.seg""".stripMargin

  /** L173 Neyman optimal allocation (Neyman 1934 [PK]): design a
    * stratified sample of n = 1,000 orders across the 5 segments with
    * per-stratum allocation ∝ Nₕ·Sₕ (size × spread — minimum-variance
    * for a fixed total), integerized by largest remainder so the
    * allocations sum to EXACTLY n (the q117/q165 penny-exact
    * discipline). The sample-DESIGN complement to the executed
    * samplers (q127 weighted, q134 stratified split).
    *
    * Parity: Sₕ comes from exact int64/DECIMAL moments through one
    * identical double chain, then the weight Nₕ·Sₕ pins to an int64
    * unit (floor(x+0.5), dollar·row units — headroom to sf ≈ 10⁴);
    * base shares and remainders are exact integer div/mod; the
    * remainder ranking is an integer decision with segment tie-break.
    *
    * Scale: one map-side moment agg; everything after runs on the
    * ≤5-row census via windows. */
  def q239NeymanAllocation(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val n = 1000L
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        floor(col("o_totalprice") + 0.5).cast("long").as("v"))
    val g = o.groupBy("seg")
      .agg(count(lit(1)).as("nh"), sum(col("v").cast(dec)).as("sv"),
        sum(col("v").cast(dec) * col("v").cast(dec)).as("qv"))
    val sh = sqrt((col("qv").cast("double") -
      col("sv").cast("double") * col("sv").cast("double") / col("nh")) /
      (col("nh") - lit(1.0)))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val t = g.withColumn("wq",
        floor(col("nh").cast("double") * sh + 0.5).cast("long"))
      .withColumn("wt", sum(col("wq")).over(wAll))
      .withColumn("base", expr(s"wq * ${n}L div wt"))
      .withColumn("rem", expr(s"(wq * ${n}L) % wt"))
      .withColumn("deficit", lit(n) - sum(col("base")).over(wAll))
    val wr = Window.orderBy(col("rem").desc, col("seg"))
    t.withColumn("rk", row_number().over(wr))
      .select(col("seg").as("c_mktsegment"), col("nh").as("n_h"),
        (round(sh, 4) + 0.0).as("s_h"),
        (col("base") +
          when(col("rk") <= col("deficit"), 1L).otherwise(0L)).as("alloc"))
      .orderBy("c_mktsegment")
  }

  val q239NeymanAllocationSql: String =
    """WITH o AS (
      |  SELECT c_mktsegment AS seg,
      |    CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |g AS (
      |  SELECT seg, COUNT(*) AS nh,
      |    SUM(CAST(v AS HUGEINT)) AS sv,
      |    SUM(CAST(v AS HUGEINT) * v) AS qv
      |  FROM o GROUP BY seg),
      |t AS (
      |  SELECT seg, nh,
      |    SQRT((CAST(qv AS DOUBLE)
      |      - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / nh)
      |      / (nh - 1.0)) AS sh
      |  FROM g),
      |q AS (
      |  SELECT seg, nh, sh,
      |    CAST(FLOOR(CAST(nh AS DOUBLE) * sh + 0.5) AS BIGINT) AS wq
      |  FROM t),
      |a AS (
      |  SELECT *, CAST(SUM(wq) OVER () AS BIGINT) AS wt FROM q),
      |b AS (
      |  SELECT *, wq * 1000 // wt AS base, (wq * 1000) % wt AS rem
      |  FROM a),
      |c AS (
      |  SELECT *,
      |    1000 - CAST(SUM(base) OVER () AS BIGINT) AS deficit,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, seg) AS rk
      |  FROM b)
      |SELECT seg AS c_mktsegment, nh AS n_h,
      |  ROUND(sh, 4) + 0 AS s_h,
      |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
      |    AS alloc
      |FROM c ORDER BY seg""".stripMargin

  /** L183 Atkinson inequality index, ε = 1 (Atkinson 1970 [PK]):
    * A₁ = 1 − geomean/mean over per-customer lifetime revenue within
    * each segment — the welfare-founded inequality member beside the
    * descriptive Gini (q150), Lorenz deciles (q167), HHI (q190), and
    * Theil (q191): A₁ is the fraction of total revenue that could be
    * given up with no welfare loss under log utility if revenue were
    * equal.
    *
    * Parity: revenue is an exact int64 cents sum (always > 0, so ln is
    * total); per-customer ln terms quantize to nano-units before the
    * integer sum (q185 discipline), the mean is an exact-int division,
    * and A₁ = 1 − exp(Σln/n)/mean is one double chain 6dp.
    *
    * Scale: customer rollup + one map-side-combinable segment agg. */
  def q249Atkinson(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"), col("c_custkey"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("c"))
    val g = cust.groupBy("seg")
      .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
        sum(Parity.quant(log(col("c").cast("double")), 1e9))
          .as("lnq"))
    val mean = col("sc").cast("double") / col("n")
    val geo = exp(col("lnq").cast("double") / 1e9 / col("n"))
    g.select(col("seg").as("c_mktsegment"), col("n").as("n_customers"),
        (round(mean / 100.0, 4) + 0.0).as("mean_rev"),
        (round(geo / 100.0, 4) + 0.0).as("geomean_rev"),
        (round(lit(1.0) - geo / mean, 6) + 0.0).as("atkinson_1"))
      .orderBy("c_mktsegment")
  }

  val q249AtkinsonSql: String =
    """WITH cust AS (
      |  SELECT c_mktsegment AS seg, c_custkey,
      |    SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |g AS (
      |  SELECT seg, COUNT(*) AS n, CAST(SUM(c) AS BIGINT) AS sc,
      |    CAST(SUM(CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1e9 + 0.5)
      |      AS BIGINT)) AS BIGINT) AS lnq
      |  FROM cust GROUP BY seg)
      |SELECT seg AS c_mktsegment, n AS n_customers,
      |  ROUND(CAST(sc AS DOUBLE) / n / 100.0, 4) + 0 AS mean_rev,
      |  ROUND(EXP(CAST(lnq AS DOUBLE) / 1e9 / n) / 100.0, 4) + 0
      |    AS geomean_rev,
      |  ROUND(1.0 - EXP(CAST(lnq AS DOUBLE) / 1e9 / n)
      |    / (CAST(sc AS DOUBLE) / n), 6) + 0 AS atkinson_1
      |FROM g ORDER BY seg""".stripMargin

  /** L194 Goodman–Kruskal lambda (Goodman & Kruskal 1954 [PK]):
    * proportional-reduction-in-error association for the nominal pair
    * (market segment → order priority) and its reverse — "how much
    * better do I predict priority knowing the segment than by always
    * guessing the modal priority". The nominal complement of q186's
    * Cramér's V (V measures departure from independence symmetrically;
    * λ measures DIRECTED predictive value, and a skewed margin can
    * legitimately zero it while V stays positive).
    *
    * Parity: everything is exact int64 — cell counts, per-row modal
    * maxima, modal margins; the two λ ratios are single divisions 6dp.
    *
    * Scale: one broadcast-dim join, one (segment, priority) cell agg
    * (≤ 25 rows), ≤25-row grouped maxima after. Guards: a
    * single-valued outcome margin (N = modal margin) nulls that
    * direction's λ. */
  def q267GkLambda(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("pri"))
      .agg(count(lit(1)).as("n"))
    // join-free: margins and modal maxima by windows over the ≤25-row
    // cell table, one representative row per margin via row_number
    // (Catalyst folds constant-key 1-row equi-joins back into BNLJs,
    // which the PLANS.md allowlist caps at one per plan)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wSeg = Window.partitionBy("seg")
    val wPri = Window.partitionBy("pri")
    val t0 = cells
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("mseg", max(col("n")).over(wSeg))
      .withColumn("tseg", sum(col("n")).over(wSeg))
      .withColumn("rseg",
        row_number().over(Window.partitionBy("seg").orderBy("pri")))
      .withColumn("mpri", max(col("n")).over(wPri))
      .withColumn("tpri", sum(col("n")).over(wPri))
      .withColumn("rpri",
        row_number().over(Window.partitionBy("pri").orderBy("seg")))
    val g = t0.agg(max(col("nt")).as("nt"),
      countDistinct(col("seg")).as("k_seg"),
      countDistinct(col("pri")).as("k_pri"),
      sum(when(col("rseg") === 1, col("mseg")).otherwise(0L))
        .as("sum_max_seg"),
      max(col("tseg")).as("mode_seg"),
      sum(when(col("rpri") === 1, col("mpri")).otherwise(0L))
        .as("sum_max_pri"),
      max(col("tpri")).as("mode_pri"))
    def lam(sumMax: org.apache.spark.sql.Column,
        mode: org.apache.spark.sql.Column) =
      when(col("nt") - mode === 0, lit(null).cast("double"))
        .otherwise(round((sumMax - mode).cast("double") /
          (col("nt") - mode).cast("double"), 6) + 0.0)
    g.select(col("nt").as("n_orders"), col("k_seg"), col("k_pri"),
      lam(col("sum_max_seg"), col("mode_pri")).as("lambda_pri_given_seg"),
      lam(col("sum_max_pri"), col("mode_seg")).as("lambda_seg_given_pri"))
  }

  val q267GkLambdaSql: String =
    """WITH cells AS (
      |  SELECT c_mktsegment AS seg, o_orderpriority AS pri,
      |    COUNT(*) AS n
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |bs AS (
      |  SELECT CAST(SUM(mx) AS BIGINT) AS sum_max_seg,
      |    CAST(MAX(tot) AS BIGINT) AS mode_seg, COUNT(*) AS k_seg
      |  FROM (SELECT seg, MAX(n) AS mx, SUM(n) AS tot
      |        FROM cells GROUP BY seg)),
      |bp AS (
      |  SELECT CAST(SUM(mx) AS BIGINT) AS sum_max_pri,
      |    CAST(MAX(tot) AS BIGINT) AS mode_pri, COUNT(*) AS k_pri
      |  FROM (SELECT pri, MAX(n) AS mx, SUM(n) AS tot
      |        FROM cells GROUP BY pri)),
      |nt AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells)
      |SELECT nt AS n_orders, k_seg, k_pri,
      |  CASE WHEN nt - mode_pri = 0 THEN NULL ELSE
      |    ROUND(CAST(sum_max_seg - mode_pri AS DOUBLE)
      |      / CAST(nt - mode_pri AS DOUBLE), 6) + 0 END
      |    AS lambda_pri_given_seg,
      |  CASE WHEN nt - mode_seg = 0 THEN NULL ELSE
      |    ROUND(CAST(sum_max_pri - mode_seg AS DOUBLE)
      |      / CAST(nt - mode_seg AS DOUBLE), 6) + 0 END
      |    AS lambda_seg_given_pri
      |FROM nt, bs, bp""".stripMargin

  /** L195 exact mutual information + normalized variants (Shannon 1948,
    * Strehl & Ghosh 2002 [PK]) for (order status, order priority):
    * I = Σ (n_xy/N)·ln(N·n_xy/(n_x·n_y)) with NMI = I/√(H_x·H_y) and
    * the uncertainty coefficient U(x|y) = I/H_x — the
    * information-theoretic association ladder beside q186 (χ² measures
    * deviation mass; MI measures CODING value, the quantity feature
    * selection actually optimizes).
    *
    * Parity: per-cell and per-margin ln terms quantize to nano units
    * before the exact integer sums (the q187/q191 discipline), so the
    * cross-libm ln never reaches a displayed digit; the three ratios
    * are one double chain 6dp.
    *
    * Scale: one (status, priority) cell agg (≤ 15 rows), margins by
    * ≤15-row windows. Guards: a degenerate margin (H = 0) nulls the
    * normalized forms; I itself is always defined. */
  def q268MutualInfo(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .groupBy(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
      .agg(count(lit(1)).as("n"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wX = Window.partitionBy("x")
    val wY = Window.partitionBy("y")
    val t0 = cells
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("nx", sum(col("n")).over(wX))
      .withColumn("ny", sum(col("n")).over(wY))
    val nD = col("nt").cast("double")
    val miTerm = col("n").cast("double") / nD *
      log(nD * col("n") / (col("nx").cast("double") * col("ny")))
    // margin entropies: each distinct margin contributes once — divide
    // the per-cell margin term by the number of cells sharing it
    val hxTerm = -(col("nx").cast("double") / nD) *
      log(col("nx").cast("double") / nD) / count(lit(1)).over(wX)
    val hyTerm = -(col("ny").cast("double") / nD) *
      log(col("ny").cast("double") / nD) / count(lit(1)).over(wY)
    val q = t0.select(col("nt"),
      Parity.quant(miTerm, 1e9).as("miq"),
      Parity.quant(hxTerm, 1e9).as("hxq"),
      Parity.quant(hyTerm, 1e9).as("hyq"))
      .groupBy("nt")
      .agg(sum(col("miq")).as("miq"), sum(col("hxq")).as("hxq"),
        sum(col("hyq")).as("hyq"))
    val mi = col("miq").cast("double") / 1e9
    val hx = col("hxq").cast("double") / 1e9
    val hy = col("hyq").cast("double") / 1e9
    q.select(col("nt").as("n_orders"),
      (round(mi, 6) + 0.0).as("mi_nats"),
      (round(hx, 6) + 0.0).as("h_status"),
      (round(hy, 6) + 0.0).as("h_priority"),
      when(col("hxq") <= 0 || col("hyq") <= 0, lit(null).cast("double"))
        .otherwise(round(mi / sqrt(hx * hy), 6) + 0.0).as("nmi"),
      when(col("hxq") <= 0, lit(null).cast("double"))
        .otherwise(round(mi / hx, 6) + 0.0).as("u_status_given_priority"))
  }

  val q268MutualInfoSql: String =
    """WITH cells AS (
      |  SELECT o_orderstatus AS x, o_orderpriority AS y, COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |t AS (
      |  SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(n) OVER (PARTITION BY x) AS BIGINT) AS nx,
      |    CAST(SUM(n) OVER (PARTITION BY y) AS BIGINT) AS ny,
      |    COUNT(*) OVER (PARTITION BY x) AS cx,
      |    COUNT(*) OVER (PARTITION BY y) AS cy
      |  FROM cells),
      |q AS (
      |  SELECT nt,
      |    CAST(SUM(CAST(FLOOR(CAST(n AS DOUBLE) / nt
      |      * ln(CAST(nt AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny))
      |      * 1e9 + 0.5) AS BIGINT)) AS BIGINT) AS miq,
      |    CAST(SUM(CAST(FLOOR(-(CAST(nx AS DOUBLE) / nt)
      |      * ln(CAST(nx AS DOUBLE) / nt) / cx * 1e9 + 0.5) AS BIGINT))
      |      AS BIGINT) AS hxq,
      |    CAST(SUM(CAST(FLOOR(-(CAST(ny AS DOUBLE) / nt)
      |      * ln(CAST(ny AS DOUBLE) / nt) / cy * 1e9 + 0.5) AS BIGINT))
      |      AS BIGINT) AS hyq
      |  FROM t GROUP BY nt)
      |SELECT nt AS n_orders,
      |  ROUND(CAST(miq AS DOUBLE) / 1e9, 6) + 0 AS mi_nats,
      |  ROUND(CAST(hxq AS DOUBLE) / 1e9, 6) + 0 AS h_status,
      |  ROUND(CAST(hyq AS DOUBLE) / 1e9, 6) + 0 AS h_priority,
      |  CASE WHEN hxq <= 0 OR hyq <= 0 THEN NULL ELSE
      |    ROUND(CAST(miq AS DOUBLE) / 1e9
      |      / SQRT(CAST(hxq AS DOUBLE) / 1e9 * (CAST(hyq AS DOUBLE) / 1e9)),
      |      6) + 0 END AS nmi,
      |  CASE WHEN hxq <= 0 THEN NULL ELSE
      |    ROUND((CAST(miq AS DOUBLE) / 1e9) / (CAST(hxq AS DOUBLE) / 1e9),
      |      6) + 0 END AS u_status_given_priority
      |FROM q""".stripMargin

  /** L213 two-sample Anderson–Darling distance ([PK] Pettitt 1976;
    * Scholz & Stephens 1987 ties form) between the base and comparison
    * price distributions — completes the drift quartet on the q147
    * input: KS (max deviation), Cramér–von Mises (integrated), EMD
    * (mass moved), and now AD — the TAIL-WEIGHTED integral
    * Σ l·(M·N − n·F)²/(F(N−F))/(nm): the 1/(F(N−F)) weight blows up
    * at the distribution edges, so AD flags tail drift (price cap
    * changes, truncation bugs) that mid-mass statistics dilute. This
    * is also the parity-safe member of the AD family: the ONE-sample
    * normal-fit AD was reserved as q257 in round 12 and dropped (its
    * per-order-statistic lnΦ terms are a cross-libm risk, COVERAGE.md
    * Round-12); the two-sample form needs NO distribution — ranks and
    * counts only.
    *
    * Parity: M·N − n·F rides DECIMAL(38,0) (overflow-safe products);
    * each distinct-value term is one double chain from exact ints,
    * nano-quantized before the integer sum (q191 discipline); side
    * totals read back as max-of-cumulative from PrefixSum's
    * checkpointed frame (the r13 q147 pattern).
    *
    * Scale: the q147 shape end-to-end — distinct-cents census,
    * PrefixSum cumulatives, no single-partition window, 1-row
    * broadcast. Guards: an empty side → null statistic. */
  def q280AdTwoSample(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir).select(
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"),
      (col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .as("is_new"))
    val h = o.groupBy("pc")
      .agg(count(lit(1)).as("l"),
        count(when(!col("is_new"), 1)).as("cx"))
    // r20 (verdict mandate #2): side totals fused into the prefix pass
    // (they equal the max-of-cumulative the r13 pattern read back, but
    // cost zero extra jobs — the driver already holds the partials)
    val c = PrefixSum.withPrefixSumsAndTotals(h, Seq(col("pc")),
      Seq((col("l"), "cum_all"), (col("cx"), "cum_x")), Nil,
      Seq((col("l"), "nn"), (col("cx"), "nx")))
    // A² = (1/(n·m)) Σ_j l_j·(M_jN − nF_j)²/(F_j(N−F_j)) — the Pettitt
    // normalization with the ECDF read at distinct-value block ends
    // (the only well-defined ties form); each term is pre-divided by
    // n·m so the nano grid quantizes an O(l/N) quantity
    val num = col("cum_x").cast(dec) * col("nn").cast(dec) -
      col("nx").cast(dec) * col("cum_all").cast(dec)
    val den = (col("cum_all").cast(dec) *
      (col("nn") - col("cum_all")).cast(dec)).cast("double")
    val nxD = col("nx").cast("double")
    val nyD = (col("nn") - col("nx")).cast("double")
    // ANSI-safe divisor (r18, the q400 clamp applied to the shared
    // shape): nx·ny is exactly 0.0 on a degenerate split and num is
    // provably 0 there (cum_x·nn − nx·cum_all with one side empty),
    // so greatest() is value-identity whenever the row survives the
    // final nx∈{0,nn} null guard. den > 0 on every kept row
    // (1 ≤ cum_all < nn).
    val termq = Parity.quant(col("l").cast("double") *
      (num.cast("double") * num.cast("double") /
        (den * greatest(nxD * nyD, lit(1e-300)))), 1e9)
    val g = c
      .filter(col("cum_all") < col("nn"))
      .agg(max(col("nn")).as("nn"), max(col("nx")).as("nx"),
        sum(termq).as("tq"))
    g.select(col("nx").as("n_base"),
      (col("nn") - col("nx")).as("n_new"),
      when(col("nx") === 0 || col("nx") === col("nn"),
        lit(null).cast("double"))
        .otherwise(Parity.fix(col("tq").cast("double") / 1e9, 6))
        .as("a2"))
  }

  val q280AdTwoSampleSql: String =
    """WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    o_orderdate >= TIMESTAMP '1999-01-01' AS is_new
      |  FROM orders),
      |h AS (
      |  SELECT pc, COUNT(*) AS l,
      |    COUNT(*) FILTER (WHERE NOT is_new) AS cx
      |  FROM o GROUP BY pc),
      |c AS (
      |  SELECT pc, l, cx,
      |    CAST(SUM(l) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_all,
      |    CAST(SUM(cx) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_x
      |  FROM h),
      |tot AS (SELECT MAX(cum_all) AS nn, MAX(cum_x) AS nx FROM c),
      |t AS (
      |  SELECT CAST(FLOOR(CAST(l AS DOUBLE)
      |    * (CAST(CAST(cum_x AS HUGEINT) * nn
      |         - CAST(nx AS HUGEINT) * cum_all AS DOUBLE)
      |       * CAST(CAST(cum_x AS HUGEINT) * nn
      |         - CAST(nx AS HUGEINT) * cum_all AS DOUBLE)
      |       / (CAST(CAST(cum_all AS HUGEINT) * (nn - cum_all) AS DOUBLE)
      |          * GREATEST(CAST(nx AS DOUBLE) * CAST(nn - nx AS DOUBLE),
      |              1e-300)))
      |    * 1e9 + 0.5) AS BIGINT) AS termq, nn, nx
      |  FROM c, tot WHERE cum_all < nn),
      |g AS (
      |  SELECT MAX(nn) AS nn, MAX(nx) AS nx,
      |    CAST(SUM(termq) AS BIGINT) AS tq
      |  FROM t)
      |SELECT nx AS n_base, nn - nx AS n_new,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE FLOOR(CAST(tq AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6
      |    END AS a2
      |FROM g""".stripMargin

  /** L286 Kuiper two-sample test ([PK] Kuiper 1960): V = D⁺ + D⁻ on
    * the q280 base/new price split — where KS takes max |F−G| (and so
    * sees mostly the middle of the support), Kuiper adds the two
    * one-sided suprema, giving equal sensitivity at the tails and to
    * spread changes that shift mass symmetrically (KS's blind spot).
    * Completes the drift quintet on the q147 input: KS, CvM, EMD, AD,
    * Kuiper.
    *
    * Parity: the ECDF difference is compared in EXACT cross-
    * multiplied integers (n_y·F_x − n_x·F_y as DECIMAL — no double
    * ever enters the supremum); D⁺/D⁻/V are one final division each,
    * 6dp.
    *
    * Scale: the q280 shape end-to-end — distinct-cents census,
    * PrefixSum cumulatives, 1-row totals broadcast, one max/min agg. */
  def q352Kuiper(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir).select(
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"),
      (col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .as("is_new"))
    val h = o.groupBy("pc")
      .agg(count(lit(1)).as("l"),
        count(when(!col("is_new"), 1)).as("cx"))
    // r20 (verdict mandate #2): side totals fused into the prefix pass
    // (they equal the max-of-cumulative the r13 pattern read back, but
    // cost zero extra jobs — the driver already holds the partials)
    val c = PrefixSum.withPrefixSumsAndTotals(h, Seq(col("pc")),
      Seq((col("l"), "cum_all"), (col("cx"), "cum_x")), Nil,
      Seq((col("l"), "nn"), (col("cx"), "nx")))
    // scaled ECDF gap at each block end: ny·F_x − nx·F_y, exact int
    val gap = (col("nn") - col("nx")).cast(dec) * col("cum_x").cast(dec) -
      col("nx").cast(dec) *
        (col("cum_all") - col("cum_x")).cast(dec)
    val g = c
      .agg(max(col("nn")).as("nn"), max(col("nx")).as("nx"),
        max(gap).as("gmax"), min(gap).as("gmin"))
    def f(c: Column) = c.cast("double")
    val scale = f(col("nx")) * (f(col("nn")) - f(col("nx")))
    val dPlus = greatest(f(col("gmax")), lit(0.0)) / scale
    val dMinus = greatest(-f(col("gmin")), lit(0.0)) / scale
    val bad = col("nx") === 0L || col("nx") === col("nn")
    g.select(col("nx").cast("long").as("n_base"),
      (col("nn") - col("nx")).cast("long").as("n_new"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(dPlus,
        6)).as("d_plus"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(dMinus,
        6)).as("d_minus"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(dPlus + dMinus, 6)).as("kuiper_v"))
  }

  val q352KuiperSql: String =
    """WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    o_orderdate >= TIMESTAMP '1999-01-01' AS is_new
      |  FROM orders),
      |h AS (
      |  SELECT pc, COUNT(*) AS l,
      |    COUNT(*) FILTER (WHERE NOT is_new) AS cx
      |  FROM o GROUP BY pc),
      |c AS (
      |  SELECT pc, l, cx,
      |    CAST(SUM(l) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_all,
      |    CAST(SUM(cx) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_x
      |  FROM h),
      |tot AS (SELECT MAX(cum_all) AS nn, MAX(cum_x) AS nx FROM c),
      |g AS (
      |  SELECT MAX(nn) AS nn, MAX(nx) AS nx,
      |    MAX(CAST(nn - nx AS HUGEINT) * cum_x
      |      - CAST(nx AS HUGEINT) * (cum_all - cum_x)) AS gmax,
      |    MIN(CAST(nn - nx AS HUGEINT) * cum_x
      |      - CAST(nx AS HUGEINT) * (cum_all - cum_x)) AS gmin
      |  FROM c, tot)
      |SELECT CAST(nx AS BIGINT) AS n_base,
      |  CAST(nn - nx AS BIGINT) AS n_new,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE FLOOR(GREATEST(CAST(gmax AS DOUBLE), 0.0)
      |      / (CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) - nx)) * 1e6
      |      + 0.5) / 1e6 + 0 END AS d_plus,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE FLOOR(GREATEST(-CAST(gmin AS DOUBLE), 0.0)
      |      / (CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) - nx)) * 1e6
      |      + 0.5) / 1e6 + 0 END AS d_minus,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE FLOOR((GREATEST(CAST(gmax AS DOUBLE), 0.0)
      |        / (CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) - nx))
      |      + GREATEST(-CAST(gmin AS DOUBLE), 0.0)
      |        / (CAST(nx AS DOUBLE) * (CAST(nn AS DOUBLE) - nx))) * 1e6
      |      + 0.5) / 1e6 + 0 END AS kuiper_v
      |FROM g""".stripMargin

  /** L322 generalized-entropy inequality panel GE(0)/GE(1)/GE(2)
    * *(added r17; [PK] Shorrocks 1980; Cowell 2011)* — the one-
    * parameter family the suite's inequality members are points of:
    * GE(0) = mean log deviation (bottom-sensitive), GE(1) = Theil T
    * (q191's statistic, here on the per-customer value frame as a
    * cross-member check), GE(2) = ½CV² (top-sensitive, pure
    * moments). Per market segment over customer lifetime order value
    * — reading ACROSS α is the readout: GE(2) ≫ GE(0) ⇔ inequality
    * lives in the top tail.
    *
    * Parity: per-customer cents are exact; ln x is nano-quantized
    * per term BEFORE both sums (Σt₉ int64 for GE(0); Σx·t₉
    * DECIMAL(38) for GE(1) — the q191 convention); GE(2) is exact
    * moments only; ln μ is one TERMINAL ln on the identical exact
    * ratio (q354 exemption); 6dp.
    *
    * Scale: orders ⋈ broadcast customer-segment → per-customer agg →
    * per-segment 5-row moment agg, all map-side combinable; no
    * windows, no fact-sized joins. */
  def q387GePanel(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val perc = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("seg"), col("o_custkey"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("x"))
    val t9 = Parity.quant(log(col("x").cast("double")), 1e9)
    val g = perc
      .withColumn("t9", t9)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast(dec)).as("sx"),
        sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
        sum(col("t9")).as("st9"),
        sum(col("x").cast(dec) * col("t9").cast(dec)).as("sxt9"))
    def d(c: Column) = c.cast("double")
    val n = d(col("n"))
    val mu = d(col("sx")) / n
    val lnMu = log(mu)
    val ge0 = lnMu - d(col("st9")) / 1e9 / n
    val ge1 = d(col("sxt9")) / 1e9 / d(col("sx")) - lnMu
    val ge2 = (n * d(col("sxx")) / (d(col("sx")) * d(col("sx"))) - 1.0) / 2.0
    g.select(col("seg"), col("n").as("n_customers"),
        (floor(mu + 0.5).cast("long")).as("mean_cents"),
        Parity.fix(ge0, 6).as("ge0_mld"), Parity.fix(ge1, 6).as("ge1_theil"),
        Parity.fix(ge2, 6).as("ge2_half_cv2"))
      .orderBy("seg")
  }

  val q387GePanelSql: String =
    """WITH perc AS (
      |  SELECT c_mktsegment AS seg, o_custkey,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS x
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |t AS (
      |  SELECT seg, x,
      |    CAST(FLOOR(ln(CAST(x AS DOUBLE)) * 1e9 + 0.5) AS BIGINT) AS t9
      |  FROM perc),
      |g AS (
      |  SELECT seg, COUNT(*) AS n,
      |    CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
      |    CAST(SUM(t9) AS BIGINT) AS st9,
      |    CAST(SUM(CAST(x AS HUGEINT) * t9) AS HUGEINT) AS sxt9
      |  FROM t GROUP BY seg),
      |f AS (
      |  SELECT seg, n,
      |    CAST(sx AS DOUBLE) / n AS mu,
      |    ln(CAST(sx AS DOUBLE) / n) AS lnmu,
      |    CAST(st9 AS DOUBLE) / 1e9 / n AS mlnx,
      |    CAST(sxt9 AS DOUBLE) / 1e9 / CAST(sx AS DOUBLE) AS xlnx,
      |    (n * CAST(sxx AS DOUBLE)
      |      / (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) - 1.0) / 2.0
      |      AS ge2
      |  FROM g)
      |SELECT seg, CAST(n AS BIGINT) AS n_customers,
      |  CAST(FLOOR(mu + 0.5) AS BIGINT) AS mean_cents,
      |  FLOOR((lnmu - mlnx) * 1e6 + 0.5) / 1e6 + 0 AS ge0_mld,
      |  FLOOR((xlnx - lnmu) * 1e6 + 0.5) / 1e6 + 0 AS ge1_theil,
      |  FLOOR(ge2 * 1e6 + 0.5) / 1e6 + 0 AS ge2_half_cv2
      |FROM f ORDER BY seg""".stripMargin

  /** L335 Cramér–von Mises two-sample test *(added r17; [PK]
    * Anderson 1962)* — completes the two-sample EDF-test triptych on
    * the q280 frame: KS (q147) reads the supremum, Anderson–Darling
    * (q280) tail-weights the integral, CvM integrates UNWEIGHTED —
    * T = (nm/N²)·Σ_j l_j·(F₁ − F₂)² over the pooled distinct-value
    * census (ECDFs read at block ends — the q280 pinned ties form),
    * tested against the 0.461 large-sample 5 % critical value.
    * Reading all three together localizes WHERE two distributions
    * part: body (CvM), tails (AD), or one point (KS).
    *
    * Parity: the (F₁ − F₂) numerator is the exact cross-multiplied
    * integer cum_x·n_y − cum_y·n_x (DECIMAL(38)/HUGEINT); each term
    * is one identical double chain NANO-quantized before the int64
    * sum (seed-122 convention); T is one output chain, 6dp.
    *
    * Scale: the q280 shape — cent census + ONE [[PrefixSum]] pass +
    * a 1-row totals broadcast; 1-row output. */
  def q400CvmTwoSample(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val o = Tables.orders(s, dir).select(
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"),
      (col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
        .as("is_new"))
    val h = o.groupBy("pc")
      .agg(count(lit(1)).as("l"),
        count(when(!col("is_new"), 1)).as("cx"))
    // r20 (verdict mandate #2): side totals fused into the prefix pass
    // (they equal the max-of-cumulative the r13 pattern read back, but
    // cost zero extra jobs — the driver already holds the partials)
    val c = PrefixSum.withPrefixSumsAndTotals(h, Seq(col("pc")),
      Seq((col("l"), "cum_all"), (col("cx"), "cum_x")), Nil,
      Seq((col("l"), "nn"), (col("cx"), "nx")))
    // F1 − F2 at a block end = (cum_x·ny − cum_y·nx)/(nx·ny), exact
    val cumY = col("cum_all") - col("cum_x")
    val nyC = col("nn") - col("nx")
    val num = col("cum_x").cast(dec) * nyC.cast(dec) -
      cumY.cast(dec) * col("nx").cast(dec)
    // ANSI-safe divisor (the q367 safe() pattern, r18 mandate): on a
    // degenerate split (nx=0 or nx=nn) nd is exactly 0.0 and would
    // throw BEFORE the final-select null guard can mask it (CASE
    // laziness is defeated by hoisting — the q370 note). num is
    // provably 0 whenever nd is 0 (one empty side ⇒ every block's
    // cross-multiplied difference vanishes), so the clamp is exact.
    val nd = greatest(
      col("nx").cast("double") * nyC.cast("double"), lit(1e-300))
    val termq = Parity.quant(col("l").cast("double") *
      (num.cast("double") / nd) * (num.cast("double") / nd), 1e9)
    val g = c
      .withColumn("termq", termq)
      .agg(max(col("nn")).as("nn"), max(col("nx")).as("nx"),
        sum(col("termq")).as("tq"))
    def d(cc: Column) = cc.cast("double")
    val t = d(col("nx")) * (d(col("nn")) - d(col("nx"))) /
      (d(col("nn")) * d(col("nn"))) * (d(col("tq")) / 1e9)
    g.select(col("nx").as("n_base"),
      (col("nn") - col("nx")).as("n_new"),
      when(col("nx") === 0 || col("nx") === col("nn"),
        lit(null).cast("double"))
        .otherwise(Parity.fix(t, 6)).as("t_cvm"),
      when(col("nx") === 0 || col("nx") === col("nn"),
        lit(null).cast("long"))
        .otherwise((Parity.fix(t, 6) > 0.461)
          .cast("long")).as("reject_5pct"))
  }

  val q400CvmTwoSampleSql: String =
    """WITH o AS (
      |  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    o_orderdate >= TIMESTAMP '1999-01-01' AS is_new
      |  FROM orders),
      |h AS (
      |  SELECT pc, COUNT(*) AS l,
      |    COUNT(*) FILTER (WHERE NOT is_new) AS cx
      |  FROM o GROUP BY pc),
      |c AS (
      |  SELECT pc, l, cx,
      |    CAST(SUM(l) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_all,
      |    CAST(SUM(cx) OVER (ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_x
      |  FROM h),
      |tot AS (SELECT MAX(cum_all) AS nn, MAX(cum_x) AS nx FROM c),
      |t AS (
      |  SELECT CAST(FLOOR(CAST(l AS DOUBLE)
      |    * (CAST(CAST(cum_x AS HUGEINT) * (nn - nx)
      |         - CAST(cum_all - cum_x AS HUGEINT) * nx AS DOUBLE)
      |       / GREATEST(CAST(nx AS DOUBLE) * CAST(nn - nx AS DOUBLE),
      |           1e-300))
      |    * (CAST(CAST(cum_x AS HUGEINT) * (nn - nx)
      |         - CAST(cum_all - cum_x AS HUGEINT) * nx AS DOUBLE)
      |       / GREATEST(CAST(nx AS DOUBLE) * CAST(nn - nx AS DOUBLE),
      |           1e-300))
      |    * 1e9 + 0.5) AS BIGINT) AS termq, nn, nx
      |  FROM c, tot),
      |g AS (
      |  SELECT MAX(nn) AS nn, MAX(nx) AS nx,
      |    CAST(SUM(termq) AS BIGINT) AS tq
      |  FROM t)
      |SELECT nx AS n_base, nn - nx AS n_new,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE FLOOR(CAST(nx AS DOUBLE) * (nn - nx)
      |      / (CAST(nn AS DOUBLE) * nn) * (CAST(tq AS DOUBLE) / 1e9)
      |      * 1e6 + 0.5) / 1e6 + 0 END AS t_cvm,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE CAST(CASE WHEN FLOOR(CAST(nx AS DOUBLE) * (nn - nx)
      |      / (CAST(nn AS DOUBLE) * nn) * (CAST(tq AS DOUBLE) / 1e9)
      |      * 1e6 + 0.5) / 1e6 + 0 > 0.461 THEN 1 ELSE 0 END AS BIGINT)
      |    END AS reject_5pct
      |FROM g""".stripMargin

  /** L346 Watson U² two-sample test *(added r19; [PK] Watson 1962;
    * Mardia & Jupp §8.3.2)* — completes the repo's EDF-distance
    * ladder (KS/Kuiper q352 sup-norm, CvM q400 and AD q280 quadratic)
    * with its ROTATION-INVARIANT member: U² = (nm/N²)·Σ(dⱼ − d̄)²
    * subtracts the mean EDF gap, so the statistic is unchanged by a
    * cyclic shift of the support — the right quadratic distance when
    * the compared variable wraps (here: weekday vs weekend daily
    * revenue on the q403/q404 trailing-365 census frame, the
    * calendar-conditioned drift readout; on the circle, CvM depends
    * on the arbitrary cut point, Watson does not — Mardia & Jupp's
    * motivating identity).
    *
    * Parity: the census frame makes everything exact — numⱼ =
    * cum_x·ny − cum_y·nx are exact int64 (≤ nx·ny ≤ 365²/4), and
    * U² = (N·Σl·num² − (Σl·num)²)/(N³·nx·ny) is ONE guarded double
    * division over int64 sums (N ≤ 365 keeps every product far
    * inside int64); EDF read at distinct-value block ends under ties
    * (the q280 convention); 6dp floor.
    *
    * Scale: the day census is scale-CONSTANT (≤365 rows by
    * construction); one census PrefixSum + one fold. */
  def q411WatsonU2(s: SparkSession, dir: String): DataFrame = {
    val d = SeriesStats.daily2(s, dir)
      .select(datediff(col("day"), lit("1995-01-01")).cast("long").as("t"),
        col("rev"))
    val recent = d
      .crossJoin(broadcast(d.agg(max(col("t")).as("tmax"))))
      .filter(col("t") > col("tmax") - 365)
      .select(col("rev"),
        // Sunday-epoch dow: 1995-01-01 was a Sunday; weekend = {0,6}
        (pmod(col("t"), lit(7L)).isin(0L, 6L)).as("is_we"))
    val h = recent.groupBy("rev").agg(count(lit(1)).as("l"),
      count(when(!col("is_we"), 1)).as("lx"))
    // r20 (verdict mandate #2): side totals fused into the prefix pass
    val c = graft.ops.PrefixSum.withPrefixSumsAndTotals(h,
      Seq(col("rev")),
      Seq((col("l"), "cum_all"), (col("lx"), "cum_x")), Nil,
      Seq((col("l"), "nn"), (col("lx"), "nx")))
    val withTot = c
      .withColumn("ny", col("nn") - col("nx"))
      .withColumn("num",
        col("cum_x") * col("ny") -
          (col("cum_all") - col("cum_x")) * col("nx"))
    val g = withTot.agg(
      max(col("nn")).as("nn"), max(col("nx")).as("nx"),
      sum(col("l") * col("num") * col("num")).as("sq"),
      sum(col("l") * col("num")).as("s1"))
    val nD = col("nn").cast("double")
    val nxD = col("nx").cast("double")
    val nyD = (col("nn") - col("nx")).cast("double")
    val u2 = (nD * col("sq").cast("double") -
      col("s1").cast("double") * col("s1").cast("double")) /
      greatest(nD * nD * nD * nxD * nyD, lit(1e-300))
    g.select(col("nx").as("n_weekday"),
        (col("nn") - col("nx")).as("n_weekend"),
        when(col("nx") === 0 || col("nx") === col("nn"),
          lit(null).cast("double"))
          .otherwise(Parity.fix(u2, 6)).as("watson_u2"))
  }

  val q411WatsonU2Sql: String =
    s"""WITH daily AS (${SeriesStats.daily2Sql}),
      |d AS (
      |  SELECT CAST(date_diff('day', DATE '1995-01-01', day) AS BIGINT)
      |      AS t, rev
      |  FROM daily),
      |recent AS (
      |  SELECT rev, ((t % 7) + 7) % 7 IN (0, 6) AS is_we
      |  FROM d, (SELECT MAX(t) AS tmax FROM d) WHERE t > tmax - 365),
      |h AS (
      |  SELECT rev, COUNT(*) AS l,
      |    COUNT(*) FILTER (WHERE NOT is_we) AS lx
      |  FROM recent GROUP BY rev),
      |c AS (
      |  SELECT rev, l, lx,
      |    CAST(SUM(l) OVER (ORDER BY rev ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum_all,
      |    CAST(SUM(lx) OVER (ORDER BY rev ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cum_x
      |  FROM h),
      |tot AS (SELECT MAX(cum_all) AS nn, MAX(cum_x) AS nx FROM c),
      |w AS (
      |  SELECT l,
      |    cum_x * (nn - nx) - (cum_all - cum_x) * nx AS num, nn, nx
      |  FROM c, tot),
      |g AS (
      |  SELECT MAX(nn) AS nn, MAX(nx) AS nx,
      |    CAST(SUM(l * num * num) AS BIGINT) AS sq,
      |    CAST(SUM(l * num) AS BIGINT) AS s1
      |  FROM w)
      |SELECT nx AS n_weekday, nn - nx AS n_weekend,
      |  CASE WHEN nx = 0 OR nx = nn THEN NULL
      |    ELSE FLOOR((CAST(nn AS DOUBLE) * CAST(sq AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |      / GREATEST(CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |        * CAST(nn AS DOUBLE) * CAST(nx AS DOUBLE)
      |        * CAST(nn - nx AS DOUBLE), 1e-300) * 1e6 + 0.5) / 1e6 + 0
      |    END AS watson_u2
      |FROM g""".stripMargin
}
