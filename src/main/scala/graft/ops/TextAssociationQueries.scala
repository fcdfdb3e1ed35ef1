package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Association, agreement, and keyness tests over the text corpus,
  * split out of [[TextQueries]] in round 16: Spearman rank
  * correlation, G2 log-likelihood keyness, Fleiss' kappa,
  * Theil's uncertainty coefficient, and Goodman-Kruskal lambda.
  * Contingency/rank censuses are vocabulary- or category-bounded;
  * no query here shuffles fact-sized intermediates.
  */
object TextAssociationQueries {

  /** L115 Spearman rank correlation between two per-language document
    * rankings (the q171 pair: raw length vs distinct-word richness) —
    * the ranker-agreement diagnostic run before fusing rankers: ρ near
    * 1 means the second signal is redundant, near 0 orthogonal. Ranks
    * are row_numbers with doc_id tie-breaks, hence PERMUTATIONS (no
    * ties), so ρ = 1 − 6Σd²/(n(n²−1)) exactly — Σd² is an exact int64
    * and the final expression is one int64→double division chain
    * (rounded 6dp), a stronger parity guarantee than Pearson-on-ranks
    * via the corr() co-moment kernel.
    *
    * Scale: two lang-partitioned rank windows on one shuffle (the q171
    * shape), then a ≤|langs|-group map-side-combinable agg; n³ stays
    * within int64 up to ~2M docs per language — past that, lift Σd²
    * and n(n²−1) to double with a documented precision trade or
    * decimal(38). */
  def q177Spearman(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val sig = d.select(col("doc_id"), col("lang"), col("n_chars"),
      size(array_distinct(tokens(col("text")))).as("n_uniq"))
    val w1 = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("lang"))
      .orderBy(col("n_uniq").desc, col("doc_id"))
    sig
      .withColumn("dd",
        (row_number().over(w1) - row_number().over(w2)).cast("long"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dd") * col("dd")).as("sum_d2"))
      .select(col("lang"), col("n_docs"), col("sum_d2"),
        round(lit(1.0) - lit(6.0) * col("sum_d2").cast("double") /
            (col("n_docs") * (col("n_docs") * col("n_docs") - 1L)).cast("double"),
          6).as("rho"))
      .orderBy("lang")
  }

  val q177SpearmanSql: String =
    """WITH sig AS (
      |  SELECT doc_id, lang, n_chars,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq
      |  FROM documents),
      |r AS (
      |  SELECT lang,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id)
      |       - ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_uniq DESC, doc_id)
      |      AS BIGINT) AS dd
      |  FROM sig),
      |a AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    CAST(SUM(dd * dd) AS BIGINT) AS sum_d2
      |  FROM r GROUP BY lang)
      |SELECT lang, n_docs, sum_d2,
      |  ROUND(1.0 - 6.0 * CAST(sum_d2 AS DOUBLE)
      |    / CAST(n_docs * (n_docs * n_docs - 1) AS DOUBLE), 6) AS rho
      |FROM a ORDER BY lang""".stripMargin

  /** L117 log-likelihood-ratio keyness (Dunning 1993): which tokens are
    * significantly over/under-represented in one source's documents vs
    * the rest of the corpus — the corpus-comparison statistic PMI
    * (q121, association WITHIN a corpus) and TV drift (q160, whole
    * -distribution distance) don't give: a per-term G² significance
    * ranking, the standard "what characterizes this source?" probe
    * before up/down-weighting it in a training mix.
    *
    * G² = 2·Σ O·ln(O/E) over the focus/rest cells of each token's 2×2
    * table; zero cells contribute 0 (x·ln x → 0). Cross-engine parity
    * by the q103 recipe: every ln argument is a division of two exact
    * int64 products (< 2⁵³ through sf ~10; lift to DECIMAL(38) ratios
    * past that), the two terms sum in fixed order, and the statistic is
    * quantized once to integer micro-units floor(g2·2e6 + 0.5) — so
    * ORDERING and the top-20 cut are exact-integer decisions on both
    * engines, never a last-ulp coin flip. Direction (over vs under) is
    * the exact integer cross-product sign a·NB vs b·NA.
    *
    * Scale: explode → vocab-sized map-side-combinable count (shuffle ∝
    * vocab, Heaps-sublinear); corpus totals are an IN-PLAN 1-row
    * broadcast (q121/q242 form, r14 — this was the last build-time
    * driver action in any query builder): na/nb are per-class token
    * totals, computed straight off documents with a cheap size() agg
    * (no second vocab shuffle) and cross-joined onto the census, so
    * the optimizer sees one plan and nothing runs at construction
    * time; top-20 via TakeOrdered + a 20-row rank window (q105
    * pattern). */
  def q179Keyness(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val tok = d
      .select(when(col("source") === "src0", lit(1L)).otherwise(lit(0L)).as("f"),
        explode(tokens(col("text"))).as("w"))
    val c = tok.groupBy("w")
      .agg(sum(col("f")).as("a"), sum(lit(1L) - col("f")).as("b"))
    // per-class corpus totals: sum of per-doc token counts ≡ sum over
    // the vocab census of a/b, but costs one documents scan instead of
    // a second pass over the exploded tokens
    val tot = d.agg(
      sum(when(col("source") === "src0", size(tokens(col("text"))))
        .otherwise(lit(0))).cast("long").as("na"),
      sum(when(col("source") =!= "src0", size(tokens(col("text"))))
        .otherwise(lit(0))).cast("long").as("nb"))
    val scored = c.filter(col("a") + col("b") >= 5)
      .crossJoin(broadcast(tot))
      .withColumn("k", Parity.quant(
        when(col("a") > 0, col("a").cast("double") *
          log((col("a") * (col("na") + col("nb"))).cast("double") /
              (col("na") * (col("a") + col("b"))).cast("double")))
          .otherwise(lit(0.0)) +
        when(col("b") > 0, col("b").cast("double") *
          log((col("b") * (col("na") + col("nb"))).cast("double") /
              (col("nb") * (col("a") + col("b"))).cast("double")))
          .otherwise(lit(0.0)), 2e6))
      .withColumn("direction",
        when(col("a") * col("nb") > col("b") * col("na"), lit(1))
          .when(col("a") * col("nb") < col("b") * col("na"), lit(-1))
          .otherwise(lit(0)))
    scored.orderBy(col("k").desc, col("w")).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("k").desc, col("w"))))
      .select(col("rnk"), col("w").as("token"), col("a").as("n_focus"),
        col("b").as("n_rest"), col("direction"),
        (col("k").cast("double") / 1000000.0).as("g2"))
      .orderBy("rnk")
  }

  val q179KeynessSql: String =
    """WITH tok AS (
      |  SELECT CASE WHEN source = 'src0' THEN 1 ELSE 0 END AS f,
      |         unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |c AS (
      |  SELECT w, CAST(SUM(f) AS BIGINT) AS a, CAST(SUM(1 - f) AS BIGINT) AS b
      |  FROM tok GROUP BY w),
      |t AS (SELECT CAST(SUM(a) AS BIGINT) AS na, CAST(SUM(b) AS BIGINT) AS nb
      |      FROM c),
      |sc AS (
      |  SELECT w, a, b,
      |    CAST(FLOOR((
      |      CASE WHEN a > 0 THEN a * ln(CAST(a * (t.na + t.nb) AS DOUBLE)
      |        / CAST(t.na * (a + b) AS DOUBLE)) ELSE 0.0 END +
      |      CASE WHEN b > 0 THEN b * ln(CAST(b * (t.na + t.nb) AS DOUBLE)
      |        / CAST(t.nb * (a + b) AS DOUBLE)) ELSE 0.0 END
      |    ) * 2000000.0 + 0.5) AS BIGINT) AS k,
      |    CASE WHEN a * t.nb > b * t.na THEN 1
      |         WHEN a * t.nb < b * t.na THEN -1 ELSE 0 END AS direction
      |  FROM c CROSS JOIN t
      |  WHERE a + b >= 5)
      |SELECT ROW_NUMBER() OVER (ORDER BY k DESC, w) AS rnk, w AS token,
      |  a AS n_focus, b AS n_rest, direction,
      |  CAST(k AS DOUBLE) / 1000000.0 AS g2
      |FROM sc ORDER BY k DESC, w LIMIT 20""".stripMargin

  /** L198 Fleiss' kappa (Fleiss 1971 [PK]) over a 3-rater quality
    * ensemble: three deterministic document screens — length (n_chars ≥
    * 100), verbosity (≥ 20 tokens), stopword presence — each "rate"
    * every document good/bad; κ measures their agreement beyond chance.
    * The ensemble-agreement readout an LLM-data pipeline needs before
    * majority-voting quality raters (q183's Cohen κ compares exactly
    * two raters; Fleiss generalizes to m).
    *
    * Parity: per-doc agreement P_i = (Σⱼ nᵢⱼ(nᵢⱼ−1))/(m(m−1)) rides
    * exact int64 vote counts (m = 3); P̄ and P_e are exact-int ratios in
    * one double chain 6dp.
    *
    * Scale: one per-doc map (3 boolean screens), one 1-row agg.
    * Guards: P_e = 1 (all raters constant) nulls κ. */
  def q274FleissKappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(
        when(col("n_chars") >= 100, 1L).otherwise(0L).as("r1"),
        when(size(tokens(col("text"))) >= 20, 1L).otherwise(0L).as("r2"),
        when(arrays_overlap(tokens(col("text")),
          typedlit(Seq("the", "a", "of", "and", "to", "in", "is", "on"))),
          1L).otherwise(0L).as("r3"))
      .withColumn("g", col("r1") + col("r2") + col("r3"))
    val m = 3.0
    val g = d.agg(count(lit(1)).as("n_docs"),
      sum(col("g")).as("votes_good"),
      // Σ_i [n_good(n_good−1) + n_bad(n_bad−1)] with n_bad = 3 − n_good
      sum(col("g") * (col("g") - 1) +
        (lit(3L) - col("g")) * (lit(2L) - col("g"))).as("agree_q"))
    val nD = col("n_docs").cast("double")
    val pbar = col("agree_q").cast("double") / (nD * m * (m - 1.0))
    val pGood = col("votes_good").cast("double") / (nD * m)
    val pe = pGood * pGood + (lit(1.0) - pGood) * (lit(1.0) - pGood)
    g.select(col("n_docs"), col("votes_good"),
      (round(pbar, 6) + 0.0).as("p_bar"),
      (round(pe, 6) + 0.0).as("p_e"),
      when(pe >= 1.0, lit(null).cast("double"))
        .otherwise(round((pbar - pe) / (lit(1.0) - pe), 6) + 0.0)
          .as("fleiss_kappa"))
  }

  val q274FleissKappaSql: String =
    s"""WITH d AS (
       |  SELECT
       |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
       |    + (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0
       |       END)
       |    + (CASE WHEN len(list_intersect(string_split(text, ' '),
       |        ['the','a','of','and','to','in','is','on'])) > 0
       |       THEN 1 ELSE 0 END) AS g
       |  FROM documents),
       |t AS (
       |  SELECT COUNT(*) AS n_docs,
       |    CAST(SUM(g) AS BIGINT) AS votes_good,
       |    CAST(SUM(g * (g - 1) + (3 - g) * (2 - g)) AS BIGINT) AS agree_q
       |  FROM d),
       |c AS (
       |  SELECT n_docs, votes_good,
       |    CAST(agree_q AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 3.0 * 2.0)
       |      AS pbar,
       |    CAST(votes_good AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 3.0)
       |      AS pg
       |  FROM t)
       |SELECT n_docs, votes_good,
       |  ROUND(pbar, 6) + 0 AS p_bar,
       |  ROUND(pg * pg + (1.0 - pg) * (1.0 - pg), 6) + 0 AS p_e,
       |  CASE WHEN pg * pg + (1.0 - pg) * (1.0 - pg) >= 1.0 THEN NULL
       |    ELSE ROUND((pbar - (pg * pg + (1.0 - pg) * (1.0 - pg)))
       |      / (1.0 - (pg * pg + (1.0 - pg) * (1.0 - pg))), 6) + 0 END
       |    AS fleiss_kappa
       |FROM c""".stripMargin

  /** L277 Theil's uncertainty coefficient ([PK] Theil 1970), both
    * directions, on the (lang, source) contingency:
    * U(X|Y) = (H(X) − H(X|Y))/H(X) — the NORMALIZED, DIRECTIONAL
    * association readout q186's symmetric Cramér's V can't give
    * ("knowing the source removes u% of the uncertainty about the
    * language" ≠ the reverse). Composes the q192 entropy machinery at
    * the column level instead of the token level — the
    * mixture-balance screen run before stratifying a corpus by one of
    * two correlated facets.
    *
    * Parity: the contingency census is exact int64; every entropy
    * term −(c/N)ln(c/margin) is nano-quantized per CELL before the
    * int64 sum (the q192 discipline — the ln argument is a ratio of
    * exact ints); each U is one final double chain, 6dp.
    *
    * Scale: ONE map-side (lang, source) count census (≤ |langs|·
    * |sources| rows); margins by windows over that census; one sum
    * agg. Nothing fact-sized past the first aggregate. */
  def q343TheilsU(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy()
    val wl = Window.partitionBy("lang")
    val ws = Window.partitionBy("source")
    def f(c: Column) = c.cast("double")
    val aug = cells
      .withColumn("nn", sum(col("c")).over(w))
      .withColumn("cl", sum(col("c")).over(wl))
      .withColumn("cs", sum(col("c")).over(ws))
    // H(lang) / H(source) from cell terms weighted into margins would
    // double-count; instead fold the margin entropies from the SAME
    // cell rows by dividing each cell's share across its margin: the
    // term −(c/N)·ln(margin/N) sums per margin to −(margin/N)ln(…)
    val hl9 = Parity.quant(-(f(col("c")) / f(col("nn"))) *
      log(f(col("cl")) / f(col("nn"))), 1e9)
    val hs9 = Parity.quant(-(f(col("c")) / f(col("nn"))) *
      log(f(col("cs")) / f(col("nn"))), 1e9)
    val hlGs9 = Parity.quant(-(f(col("c")) / f(col("nn"))) *
      log(f(col("c")) / f(col("cs"))), 1e9)
    val hsGl9 = Parity.quant(-(f(col("c")) / f(col("nn"))) *
      log(f(col("c")) / f(col("cl"))), 1e9)
    val m = aug.select(col("nn"), hl9.as("hl"), hs9.as("hs"),
        hlGs9.as("hlgs"), hsGl9.as("hsgl"))
      .agg(max(col("nn")).as("nd"), count(lit(1)).as("k"),
        sum(col("hl")).as("shl"), sum(col("hs")).as("shs"),
        sum(col("hlgs")).as("shlgs"), sum(col("hsgl")).as("shsgl"))
    def g(c: String) = col(c).cast("double") / 1.0e9
    val uLS = (g("shl") - g("shlgs")) / g("shl")
    val uSL = (g("shs") - g("shsgl")) / g("shs")
    m.select(col("nd").cast("long").as("n_docs"),
      col("k").cast("long").as("n_cells"),
      Parity.fix(g("shl"), 6).as("h_lang"),
      Parity.fix(g("shs"), 6).as("h_source"),
      Parity.fix(g("shlgs"), 6).as("h_lang_given_source"),
      when(col("shl") <= 0L, lit(null).cast("double"))
        .otherwise(Parity.fix(uLS, 6)).as("u_lang_source"),
      when(col("shs") <= 0L, lit(null).cast("double"))
        .otherwise(Parity.fix(uSL, 6)).as("u_source_lang"))
  }

  val q343TheilsUSql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS c
      |  FROM documents GROUP BY lang, source),
      |aug AS (
      |  SELECT *,
      |    CAST(SUM(c) OVER () AS BIGINT) AS nn,
      |    CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS cl,
      |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS cs
      |  FROM cells),
      |t AS (
      |  SELECT nn,
      |    CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * ln(CAST(cl AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9 + 0.5)
      |      AS BIGINT) AS hl,
      |    CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * ln(CAST(cs AS DOUBLE) / CAST(nn AS DOUBLE)) * 1e9 + 0.5)
      |      AS BIGINT) AS hs,
      |    CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * ln(CAST(c AS DOUBLE) / CAST(cs AS DOUBLE)) * 1e9 + 0.5)
      |      AS BIGINT) AS hlgs,
      |    CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(nn AS DOUBLE))
      |      * ln(CAST(c AS DOUBLE) / CAST(cl AS DOUBLE)) * 1e9 + 0.5)
      |      AS BIGINT) AS hsgl
      |  FROM aug),
      |m AS (
      |  SELECT CAST(MAX(nn) AS BIGINT) AS nd, COUNT(*) AS k,
      |    CAST(SUM(hl) AS BIGINT) AS shl,
      |    CAST(SUM(hs) AS BIGINT) AS shs,
      |    CAST(SUM(hlgs) AS BIGINT) AS shlgs,
      |    CAST(SUM(hsgl) AS BIGINT) AS shsgl
      |  FROM t)
      |SELECT nd AS n_docs, CAST(k AS BIGINT) AS n_cells,
      |  FLOOR(CAST(shl AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 + 0
      |    AS h_lang,
      |  FLOOR(CAST(shs AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 + 0
      |    AS h_source,
      |  FLOOR(CAST(shlgs AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 + 0
      |    AS h_lang_given_source,
      |  CASE WHEN shl <= 0 THEN NULL
      |    ELSE FLOOR((CAST(shl AS DOUBLE) / 1e9
      |      - CAST(shlgs AS DOUBLE) / 1e9) / (CAST(shl AS DOUBLE) / 1e9)
      |      * 1e6 + 0.5) / 1e6 + 0 END AS u_lang_source,
      |  CASE WHEN shs <= 0 THEN NULL
      |    ELSE FLOOR((CAST(shs AS DOUBLE) / 1e9
      |      - CAST(shsgl AS DOUBLE) / 1e9) / (CAST(shs AS DOUBLE) / 1e9)
      |      * 1e6 + 0.5) / 1e6 + 0 END AS u_source_lang
      |FROM m""".stripMargin

  /** L283 Goodman–Kruskal λ ([PK] Goodman & Kruskal 1954), both
    * directions, on q343's (lang, source) contingency: the
    * proportional reduction in MODAL-prediction error —
    * λ(X|Y) = (Σ_y max_x c(x,y) − max_x c_x)/(N − max_x c_x). The
    * third member of the nominal-association triple (q186 Cramér's V
    * symmetric-χ², q343 Theil's U entropy, λ modal): λ = 0 whenever
    * every column shares the global mode even under real association,
    * which is exactly why it's reported BESIDE the other two — the
    * disagreements are the diagnostics.
    *
    * Parity: pure exact-int order statistics and counts on the tiny
    * census; each λ is ONE exact-rational division, floor-quantized
    * 6dp.
    *
    * Scale: the q343 plan — one map-side contingency census, window
    * maxima over ≤|langs|·|sources| rows, one sum agg. */
  def q349GoodmanKruskal(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.documents(s, dir)
      .groupBy("lang", "source").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy()
    val wl = Window.partitionBy("lang")
    val ws = Window.partitionBy("source")
    val aug = cells
      .withColumn("nn", sum(col("c")).over(w))
      .withColumn("cl", sum(col("c")).over(wl))
      .withColumn("cs", sum(col("c")).over(ws))
      .withColumn("mxs", max(col("c")).over(ws))
      .withColumn("mxl", max(col("c")).over(wl))
    // per-margin modal contributions: take each margin's max once by
    // ranking inside the margin (exact int tie-break by the partner
    // key keeps it deterministic, though SUM of per-margin maxima
    // never depends on which tied row is picked)
    val m = aug
      .withColumn("rs", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("lang"))))
      .withColumn("rl", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("source"))))
      .agg(max(col("nn")).as("nd"),
        sum(when(col("rs") === 1, col("c")).otherwise(0L)).as("sms"),
        sum(when(col("rl") === 1, col("c")).otherwise(0L)).as("sml"),
        max(col("cl")).as("maxl"), max(col("cs")).as("maxs"))
    def q6r(num: Column, den: Column): Column =
      when(den <= 0L, lit(null).cast("double"))
        .otherwise(Parity.fix(num.cast("double") / den.cast("double"), 6))
    m.select(col("nd").cast("long").as("n_docs"),
      col("sms").cast("long").as("sum_modal_by_source"),
      col("sml").cast("long").as("sum_modal_by_lang"),
      col("maxl").cast("long").as("modal_lang_n"),
      col("maxs").cast("long").as("modal_source_n"),
      q6r(col("sms") - col("maxl"), col("nd") - col("maxl"))
        .as("lambda_lang_source"),
      q6r(col("sml") - col("maxs"), col("nd") - col("maxs"))
        .as("lambda_source_lang"))
  }

  val q349GoodmanKruskalSql: String =
    """WITH cells AS (
      |  SELECT lang, source, COUNT(*) AS c
      |  FROM documents GROUP BY lang, source),
      |aug AS (
      |  SELECT *,
      |    CAST(SUM(c) OVER () AS BIGINT) AS nn,
      |    CAST(SUM(c) OVER (PARTITION BY lang) AS BIGINT) AS cl,
      |    CAST(SUM(c) OVER (PARTITION BY source) AS BIGINT) AS cs,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY c DESC, lang) AS rs,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY c DESC, source) AS rl
      |  FROM cells),
      |m AS (
      |  SELECT CAST(MAX(nn) AS BIGINT) AS nd,
      |    CAST(SUM(CASE WHEN rs = 1 THEN c ELSE 0 END) AS BIGINT)
      |      AS sms,
      |    CAST(SUM(CASE WHEN rl = 1 THEN c ELSE 0 END) AS BIGINT)
      |      AS sml,
      |    CAST(MAX(cl) AS BIGINT) AS maxl,
      |    CAST(MAX(cs) AS BIGINT) AS maxs
      |  FROM aug)
      |SELECT nd AS n_docs, sms AS sum_modal_by_source,
      |  sml AS sum_modal_by_lang, maxl AS modal_lang_n,
      |  maxs AS modal_source_n,
      |  CASE WHEN nd - maxl <= 0 THEN NULL
      |    ELSE FLOOR(CAST(sms - maxl AS DOUBLE) / (nd - maxl) * 1e6
      |      + 0.5) / 1e6 + 0 END AS lambda_lang_source,
      |  CASE WHEN nd - maxs <= 0 THEN NULL
      |    ELSE FLOOR(CAST(sml - maxs AS DOUBLE) / (nd - maxs) * 1e6
      |      + 0.5) / 1e6 + 0 END AS lambda_source_lang
      |FROM m""".stripMargin
}
