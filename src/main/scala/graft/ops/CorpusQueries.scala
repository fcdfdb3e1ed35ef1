package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus-growth and retrieval-quality metrics (round 13): the two
  * query ids reserved-and-dropped in round 12 (COVERAGE.md Round-12
  * section), now built — Heaps'-law vocabulary growth (q270, SURVEY
  * L206) and the cascade-model Expected Reciprocal Rank (q272, L207).
  *
  * Both ride existing backbones: q270 is the q154 first-occurrence
  * census + the [[PrefixSum]] running totals + a q256-style
  * exact-DECIMAL moment fit; q272 is q238's broadcast query fleet with
  * an exactly-dyadic cascade product.
  */
object CorpusQueries {

  /** L206 Heaps'-law fit V(n) = K·n^β ([PK] Heaps 1978): how fast
    * VOCABULARY grows with corpus size — the "how much new language is
    * left to crawl" planning curve (β near 1 = every shard brings new
    * types, dedup/normalization is underperforming; β ≪ 1 = the crawl
    * is saturating; complements q269's Chao1 which estimates the
    * asymptote while β measures the approach). Fit: OLS of ln V on
    * ln n over ten LOG-SPACED ingest-order checkpoints (doc counts
    * N/2⁹, N/2⁸, …, N/2, N): evenly-spaced checkpoints would be
    * vacuous on a saturating corpus — the fixture's fixed vocabulary
    * is fully seen inside the first decile, putting β ≡ 0 with zero
    * information (caught by NonDegeneracySpec at birth); log spacing
    * samples the growth phase at every corpus size.
    *
    * Parity: per-checkpoint (n, V) are exact int64 (PrefixSum running
    * token counts + first-occurrence novelty counts); ln is the one
    * libm call, nano-quantized at the source (the q191 discipline);
    * the OLS moment sums over quantized lns ride DECIMAL(38,0)/HUGEINT
    * (Σx·y ~ 10·(2·10¹⁰)² needs >64 bits); β and ln K are one double
    * chain from exact sums, 6dp/4dp.
    *
    * Scale: the (word → min doc_id) first-occurrence census is the
    * q154 inverted-index shuffle (vocab-sized); the per-doc census
    * rides [[PrefixSum]] (no single-partition window); checkpoint
    * selection is the allowlisted 1-row count broadcast (q242 form).
    * Nothing touches the pair space; driver state is zero. */
  def q270HeapsLaw(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = Tables.documents(s, dir)
    val toks = d.select(col("doc_id"), size(tokens(col("text")))
      .cast("long").as("nw"))
    val novel = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(min(col("doc_id")).as("fd"))
      .groupBy(col("fd").as("doc_id")).agg(count(lit(1)).as("nv"))
    // r20 (verdict mandate #2): the census size fused into the prefix
    // pass (row count ≡ the max-of-rn it replaced; zero extra jobs)
    val c = PrefixSum.withPrefixSumsAndTotals(
      toks.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("nw"), coalesce(col("nv"), lit(0L)).as("nv")),
      Seq(col("doc_id")),
      Seq((lit(1L), "rn"), (col("nw"), "cum_n"), (col("nv"), "cum_v")), Nil,
      Seq((lit(1L), "nck")))
    val ck = c
      .filter(expr("exists(sequence(1, 10), " +
        "k -> rn = greatest(cast(1 as bigint), " +
        "nck div cast(shiftleft(1, 10 - k) as bigint)))"))
      .filter(col("cum_n") > 0 && col("cum_v") > 0)
      .select(
        Parity.quant(log(col("cum_n").cast("double")), 1e9).as("x"),
        Parity.quant(log(col("cum_v").cast("double")), 1e9).as("y"),
        col("cum_n"), col("cum_v"))
    val g = ck.agg(count(lit(1)).as("m"),
      sum(col("x").cast(dec)).as("sx"), sum(col("y").cast(dec)).as("sy"),
      sum(col("x").cast(dec) * col("y").cast(dec)).as("sxy"),
      sum(col("x").cast(dec) * col("x").cast(dec)).as("sxx"),
      max(col("cum_n")).as("n_tokens"), max(col("cum_v")).as("n_vocab"))
    val num = col("m").cast(dec) * col("sxy") - col("sx") * col("sy")
    val den = col("m").cast(dec) * col("sxx") - col("sx") * col("sx")
    val beta = num.cast("double") / den.cast("double")
    g.select(col("m").as("n_checkpoints"), col("n_tokens"), col("n_vocab"),
      when(den === 0 || col("m") < 3, lit(null).cast("double"))
        .otherwise(round(beta, 6) + 0.0).as("heaps_beta"),
      when(den === 0 || col("m") < 3, lit(null).cast("double"))
        .otherwise(round(
          (col("sy").cast("double") / 1e9 -
            beta * (col("sx").cast("double") / 1e9)) /
            col("m").cast("double"), 4) + 0.0).as("heaps_lnk"))
  }

  val q270HeapsLawSql: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
      |  FROM documents),
      |occ AS (
      |  SELECT w, MIN(doc_id) AS fd
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY w),
      |novel AS (SELECT fd AS doc_id, COUNT(*) AS nv FROM occ GROUP BY fd),
      |c AS (
      |  SELECT t.doc_id,
      |    ROW_NUMBER() OVER (ORDER BY t.doc_id) AS rn,
      |    SUM(t.nw) OVER (ORDER BY t.doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum_n,
      |    SUM(COALESCE(n.nv, 0)) OVER (ORDER BY t.doc_id
      |      ROWS UNBOUNDED PRECEDING) AS cum_v
      |  FROM toks t LEFT JOIN novel n USING (doc_id)),
      |nn AS (SELECT MAX(rn) AS nck FROM c),
      |ck AS (
      |  SELECT CAST(FLOOR(LN(CAST(cum_n AS DOUBLE)) * 1e9 + 0.5)
      |      AS HUGEINT) AS x,
      |    CAST(FLOOR(LN(CAST(cum_v AS DOUBLE)) * 1e9 + 0.5)
      |      AS HUGEINT) AS y,
      |    cum_n, cum_v
      |  FROM c, nn
      |  WHERE rn IN (SELECT GREATEST(1, nck // (1 << (10 - k)))
      |               FROM (SELECT unnest(generate_series(1, 10)) AS k), nn)
      |    AND cum_n > 0 AND cum_v > 0),
      |g AS (
      |  SELECT COUNT(*) AS m, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * y) AS sxy, SUM(x * x) AS sxx,
      |    MAX(cum_n) AS n_tokens, MAX(cum_v) AS n_vocab
      |  FROM ck)
      |SELECT CAST(m AS BIGINT) AS n_checkpoints,
      |  CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(n_vocab AS BIGINT) AS n_vocab,
      |  CASE WHEN m * sxx - sx * sx = 0 OR m < 3 THEN NULL
      |    ELSE ROUND(CAST(m * sxy - sx * sy AS DOUBLE)
      |      / CAST(m * sxx - sx * sx AS DOUBLE), 6) + 0 END AS heaps_beta,
      |  CASE WHEN m * sxx - sx * sx = 0 OR m < 3 THEN NULL
      |    ELSE ROUND((CAST(sy AS DOUBLE) / 1e9
      |      - (CAST(m * sxy - sx * sy AS DOUBLE)
      |         / CAST(m * sxx - sx * sx AS DOUBLE))
      |        * (CAST(sx AS DOUBLE) / 1e9))
      |      / CAST(m AS DOUBLE), 4) + 0 END AS heaps_lnk
      |FROM g""".stripMargin

  /** L207 Expected Reciprocal Rank at 20 ([PK] Chapelle et al. 2009,
    * the cascade click model): ERR@20 = Σᵣ (1/r)·Rᵣ·Π_{i<r}(1−Rᵢ) —
    * unlike q238's MRR (first hit only) and nDCG (position discount
    * only), ERR discounts each later hit by the probability every
    * EARLIER hit already satisfied the user, so a ranking that stacks
    * near-duplicates of one answer scores lower than a diverse one:
    * the retrieval-quality number that detects redundancy, same fleet
    * and ranking as q238 (per-language query over the n_chars-desc
    * ranking, binary relevance ⇒ R = 1/2).
    *
    * Parity: with R = 1/2 the cascade product is (1/2)^cumrel —
    * exactly-representable dyadic doubles; each term (1/r)·2^−cumrel
    * is one exact division, pico-quantized (1e12, terms ≥ 2⁻²⁰/20) to
    * an int64 so the cross-row SUM is order-independent.
    *
    * Scale: the q238 shape — one |langs|-row broadcast, one window
    * rank per query arm, one hash agg; nothing pairwise. */
  def q272Err20(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val langs = d.select(col("lang").as("ql")).distinct()
    val w = Window.partitionBy("ql")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = d.crossJoin(broadcast(langs))
      .withColumn("rk", row_number().over(w))
      .withColumn("rel", (col("lang") === col("ql")).cast("long"))
    val wc = Window.partitionBy("ql").orderBy("rk")
    val t = ranked.withColumn("cumrel", sum("rel").over(wc))
    val errTerm = when(col("rel") === 1L && col("rk") <= 20,
      Parity.quant(pow(lit(0.5), col("cumrel").cast("double")) /
        col("rk").cast("double"), 1e12)).otherwise(0L)
    t.groupBy("ql").agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("rel") === 1L && col("rk") <= 20, 1L).otherwise(0L))
          .as("n_rel20"),
        sum(errTerm).as("errq"))
      .select(col("ql").as("query_lang"), col("n_docs"), col("n_rel20"),
        Parity.fix(col("errq").cast("double") / 1e12, 6)
          .as("err20"))
      .orderBy("query_lang")
  }

  val q272Err20Sql: String =
    """WITH langs AS (SELECT DISTINCT lang AS ql FROM documents),
      |ranked AS (
      |  SELECT ql, doc_id, lang, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY ql
      |      ORDER BY n_chars DESC, doc_id) AS rk,
      |    CASE WHEN lang = ql THEN 1 ELSE 0 END AS rel
      |  FROM documents CROSS JOIN langs),
      |t AS (
      |  SELECT *, SUM(rel) OVER (PARTITION BY ql ORDER BY rk
      |    ROWS UNBOUNDED PRECEDING) AS cumrel
      |  FROM ranked)
      |SELECT ql AS query_lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN rel = 1 AND rk <= 20 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_rel20,
      |  FLOOR(CAST(SUM(CASE WHEN rel = 1 AND rk <= 20 THEN
      |      CAST(FLOOR(POWER(0.5, cumrel) / rk * 1e12 + 0.5) AS BIGINT)
      |    ELSE 0 END) AS DOUBLE) / 1e12 * 1e6 + 0.5) / 1e6 AS err20
      |FROM t GROUP BY ql ORDER BY query_lang""".stripMargin

  /** L209 lexical diversity profile per source ([PK] Simpson 1949;
    * Shannon 1948; Pielou 1966): Simpson concentration λ =
    * Σnᵢ(nᵢ−1)/(N(N−1)) (the probability two random tokens are the
    * same type — q190's HHI with the unbiased finite-sample
    * correction), Shannon H = ln N − (1/N)Σnᵢ ln nᵢ, and Pielou
    * evenness J = H/ln S — the per-feed "is this source template spam
    * or genuine language" triage that q144's distinct-n windows and
    * q122's column entropy don't give at source granularity: λ spikes
    * and J collapses on boilerplate feeds even when raw vocabulary
    * counts look healthy.
    *
    * Parity: nᵢ(nᵢ−1) sums are exact DECIMAL(38,0)/HUGEINT; the
    * H entropy terms nᵢ·ln nᵢ are nano-quantized per TYPE before the
    * integer sum (the q191 discipline), and the two standalone lns
    * (ln N, ln S) are nano-quantized the same way, so every libm call
    * happens on an identical integer in both engines.
    *
    * Scale: one (source, word) hash agg — map-side combinable — then a
    * |sources|-row census; no joins, no windows over fact data. */
  def q277Diversity(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val occ = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("n"))
    val g = occ.groupBy("source").agg(
      sum(col("n")).as("nt"), count(lit(1)).as("st"),
      sum(col("n").cast(dec) * (col("n") - 1).cast(dec)).as("rep"),
      sum(Parity.quant(col("n").cast("double") * log(col("n").cast("double")),
        1e9).cast(dec)).as("snln"))
    val nD = col("nt").cast("double")
    val qln = (c: org.apache.spark.sql.Column) =>
      Parity.fix(log(c), 9)
    val shannon = qln(nD) -
      (col("snln").cast("double") / 1e9) / nD
    val lnS = qln(col("st").cast("double"))
    g.select(col("source"), col("nt").as("n_tokens"),
        col("st").as("n_types"),
        when(col("nt") < 2, lit(null).cast("double"))
          .otherwise(round(col("rep").cast("double") /
            (nD * (nD - 1.0)), 6) + 0.0).as("simpson"),
        (round(shannon, 6) + 0.0).as("shannon"),
        when(col("st") < 2, lit(null).cast("double"))
          .otherwise(round(shannon / lnS, 6) + 0.0).as("evenness"))
      .orderBy("source")
  }

  val q277DiversitySql: String =
    """WITH occ AS (
      |  SELECT source, w, COUNT(*) AS n
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY source, w),
      |g AS (
      |  SELECT source, CAST(SUM(n) AS BIGINT) AS nt,
      |    COUNT(*) AS st,
      |    SUM(CAST(n AS HUGEINT) * (n - 1)) AS rep,
      |    SUM(CAST(CAST(FLOOR(CAST(n AS DOUBLE) * LN(CAST(n AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS HUGEINT)) AS snln
      |  FROM occ GROUP BY source)
      |SELECT source, nt AS n_tokens, CAST(st AS BIGINT) AS n_types,
      |  CASE WHEN nt < 2 THEN NULL ELSE
      |    ROUND(CAST(rep AS DOUBLE)
      |      / (CAST(nt AS DOUBLE) * (CAST(nt AS DOUBLE) - 1.0)), 6) + 0
      |    END AS simpson,
      |  ROUND(FLOOR(LN(CAST(nt AS DOUBLE)) * 1e9 + 0.5) / 1e9
      |    - (CAST(snln AS DOUBLE) / 1e9) / CAST(nt AS DOUBLE), 6) + 0
      |    AS shannon,
      |  CASE WHEN st < 2 THEN NULL ELSE
      |    ROUND((FLOOR(LN(CAST(nt AS DOUBLE)) * 1e9 + 0.5) / 1e9
      |      - (CAST(snln AS DOUBLE) / 1e9) / CAST(nt AS DOUBLE))
      |      / (FLOOR(LN(CAST(st AS DOUBLE)) * 1e9 + 0.5) / 1e9), 6) + 0
      |    END AS evenness
      |FROM g ORDER BY source""".stripMargin

  /** L214 Cochran's Q ([PK] Cochran 1950): do q274's three binary
    * quality raters (length / verbosity / stopword screens) PASS at
    * the same rate? The k-rater marginal-homogeneity test — Fleiss' κ
    * (L198) asks "do the raters agree per document"; Cochran's Q asks
    * "is one screen systematically stricter", the question that
    * decides whether an ensemble's thresholds need recalibrating
    * before majority-voting labels (it generalizes L167's McNemar
    * from 2 correlated proportions to k). Q = (k−1)(kΣC_j² − T²) /
    * (kT − ΣR_i²) with per-doc row sums R and per-rater columns C;
    * under H₀, Q ~ χ²_{k−1}.
    *
    * Parity: every sum is exact int64/DECIMAL (votes are 0/1, row
    * sums ≤ 3); Q is one double division of exact ints, 4dp; the
    * χ²₂ tail has the exact closed form exp(−Q/2) (even df, the q275
    * convention), floor-quantized 1e-8.
    *
    * Scale: one map-side-combinable agg over the corpus — no joins,
    * no windows. Guards: zero discordance (kT = ΣR²: every doc
    * unanimous) → null Q/p. */
  def q281CochranQ(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = Tables.documents(s, dir)
      .select(
        when(col("n_chars") >= 100, 1L).otherwise(0L).as("r1"),
        when(size(tokens(col("text"))) >= 20, 1L).otherwise(0L).as("r2"),
        when(arrays_overlap(tokens(col("text")),
          typedlit(Seq("the", "a", "of", "and", "to", "in", "is", "on"))),
          1L).otherwise(0L).as("r3"))
      .withColumn("g", col("r1") + col("r2") + col("r3"))
    val a = d.agg(count(lit(1)).as("n_docs"),
      sum(col("r1")).as("c1"), sum(col("r2")).as("c2"),
      sum(col("r3")).as("c3"), sum(col("g")).as("t"),
      sum(col("g") * col("g")).as("sr2"))
    val qNum = (lit(2L).cast(dec) *
      (lit(3L).cast(dec) * (col("c1").cast(dec) * col("c1").cast(dec) +
        col("c2").cast(dec) * col("c2").cast(dec) +
        col("c3").cast(dec) * col("c3").cast(dec)) -
        col("t").cast(dec) * col("t").cast(dec))).cast("double")
    val qDen = (lit(3L) * col("t") - col("sr2")).cast("double")
    val q = qNum / qDen
    val degenerate = (lit(3L) * col("t") - col("sr2")) === 0L
    a.select(col("n_docs"), col("c1"), col("c2"), col("c3"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(q, 4) + 0.0).as("cochran_q"),
      lit(2L).as("df"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(Parity.fix(exp(-q / 2.0), 8)).as("p"))
  }

  val q281CochranQSql: String =
    """WITH d AS (
      |  SELECT
      |    CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS r1,
      |    CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
      |      AS r2,
      |    CASE WHEN len(list_intersect(string_split(text, ' '),
      |      ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'on'])) > 0
      |      THEN 1 ELSE 0 END AS r3
      |  FROM documents),
      |a AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(r1) AS BIGINT) AS c1, CAST(SUM(r2) AS BIGINT) AS c2,
      |    CAST(SUM(r3) AS BIGINT) AS c3,
      |    CAST(SUM(r1 + r2 + r3) AS BIGINT) AS t,
      |    CAST(SUM((r1 + r2 + r3) * (r1 + r2 + r3)) AS BIGINT) AS sr2
      |  FROM d)
      |SELECT n_docs, c1, c2, c3,
      |  CASE WHEN 3 * t - sr2 = 0 THEN NULL
      |    ELSE ROUND(CAST(2 * (3 * (CAST(c1 AS HUGEINT) * c1
      |        + CAST(c2 AS HUGEINT) * c2 + CAST(c3 AS HUGEINT) * c3)
      |        - CAST(t AS HUGEINT) * t) AS DOUBLE)
      |      / CAST(3 * t - sr2 AS DOUBLE), 4) + 0 END AS cochran_q,
      |  CAST(2 AS BIGINT) AS df,
      |  CASE WHEN 3 * t - sr2 = 0 THEN NULL
      |    ELSE FLOOR(EXP(-(CAST(2 * (3 * (CAST(c1 AS HUGEINT) * c1
      |        + CAST(c2 AS HUGEINT) * c2 + CAST(c3 AS HUGEINT) * c3)
      |        - CAST(t AS HUGEINT) * t) AS DOUBLE)
      |      / CAST(3 * t - sr2 AS DOUBLE)) / 2.0) * 1e8 + 0.5) / 1e8
      |    END AS p
      |FROM a""".stripMargin

  /** L217 rank-biased overlap RBO@10, p = 0.9 ([PK] Webber, Moffat &
    * Zobel 2010): how similar are two TOP-10 rankings of the part
    * catalog — by revenue (Σ extendedprice) vs by units moved
    * (Σ quantity)? RBO is the top-weighted list-similarity measure
    * retrieval evaluation uses where Kendall/Spearman (q177/q211)
    * would weight depth 10 equally with depth 1: RBO@k =
    * (1−p) Σ_{d≤k} p^{d−1}·X_d/d with X_d the prefix-overlap at
    * depth d.
    *
    * Parity: with p = 9/10 every term is RATIONAL — over the common
    * denominator D = 10¹⁰·lcm(1..10) = 2.52e13 the per-depth weight
    * is the exact int64 9^{d−1}·10^{10−d}·(2520/d), so the cumulative
    * RBO is an exact-integer half-up division (the q167 share trick),
    * never a float sum. Both top-10 lists are total-ordered by
    * (measure desc, partkey).
    *
    * Scale: one lineitem agg → two TakeOrdered(10) frames; everything
    * after operates on ≤ 20 rows (the depth-grid cross join is a
    * 10×≤10 literal — BNLJ allowlisted).
    *
    * Output: one row per depth d with the overlap X_d and RBO@d. */
  def q284Rbo(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("rev"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("qty"))
    def top10(m: String, tieKey: String = "l_partkey") = {
      val ordered = per.orderBy(col(m).desc, col(tieKey)).limit(10)
      ordered.select(col("l_partkey"),
        row_number().over(
          Window.orderBy(col(m).desc, col(tieKey))).as("r"))
    }
    val a = top10("rev").withColumnRenamed("r", "ra")
    val b = top10("qty").withColumnRenamed("r", "rb")
    val joined = a.join(b, Seq("l_partkey"))
      .select(greatest(col("ra"), col("rb")).as("m"))
    // exact per-depth weights w_d = 9^(d-1) * 10^(10-d) * (2520/d)
    val weights: Seq[Long] = (1 to 10).map { d =>
      var w = 2520L / d
      for (_ <- 1 until d) w *= 9L
      for (_ <- d until 10) w *= 10L
      w
    }
    val dGrid = s.range(1, 11).select(col("id").cast("int").as("d"))
    val dec = "decimal(38,0)"
    val terms = dGrid.join(joined, lit(true), "left")
      .groupBy("d")
      .agg(coalesce(sum(when(col("m") <= col("d"), 1L).otherwise(0L)),
        lit(0L)).as("x_d"))
      .withColumn("w",
        element_at(typedlit(weights), col("d")))
    val cum = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dTot = lit(25200000000000L) // 10^10 * 2520
    terms
      .withColumn("num", sum(col("x_d").cast(dec) * col("w").cast(dec))
        .over(cum))
      .select(col("d"), col("x_d"),
        // exact half-up integer division: (num*2e6 + D) div (2D) / 1e6
        (((col("num") * lit(2000000L).cast(dec) + dTot.cast(dec)) -
          pmod(col("num") * lit(2000000L).cast(dec) + dTot.cast(dec),
            dTot.cast(dec) * 2L)) / (dTot.cast(dec) * 2L))
          .cast("long").cast("double").divide(1e6).as("rbo"))
      .orderBy("d")
  }

  val q284RboSql: String =
    """WITH per AS (
      |  SELECT l_partkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev,
      |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      |  FROM lineitem GROUP BY l_partkey),
      |a AS (
      |  SELECT l_partkey,
      |    ROW_NUMBER() OVER (ORDER BY rev DESC, l_partkey) AS ra
      |  FROM per ORDER BY rev DESC, l_partkey LIMIT 10),
      |b AS (
      |  SELECT l_partkey,
      |    ROW_NUMBER() OVER (ORDER BY qty DESC, l_partkey) AS rb
      |  FROM per ORDER BY qty DESC, l_partkey LIMIT 10),
      |j AS (
      |  SELECT GREATEST(ra, rb) AS m
      |  FROM a JOIN b USING (l_partkey)),
      |w AS (
      |  SELECT d,
      |    [2520000000000, 1134000000000, 680400000000, 459270000000,
      |     330674400000, 248005800000, 191318760000, 150663523500,
      |     120530818800, 97629963228][d] AS wt
      |  FROM generate_series(1, 10) AS t(d)),
      |terms AS (
      |  SELECT w.d, COALESCE(SUM(CASE WHEN j.m <= w.d THEN 1 ELSE 0 END),
      |      0) AS x_d, MAX(w.wt) AS wt
      |  FROM w LEFT JOIN j ON TRUE
      |  GROUP BY w.d),
      |c AS (
      |  SELECT d, x_d,
      |    SUM(CAST(x_d AS HUGEINT) * wt) OVER (ORDER BY d
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num
      |  FROM terms)
      |SELECT CAST(d AS INT) AS d, CAST(x_d AS BIGINT) AS x_d,
      |  CAST((num * 2000000 + 25200000000000)
      |    // (CAST(25200000000000 AS HUGEINT) * 2) AS BIGINT) / 1e6
      |    AS rbo
      |FROM c ORDER BY d""".stripMargin

  /** L219 bigram-LM cross-entropy scoring ([PK] CCNet, Wenzek et al.
    * 2020; Jurafsky & Martin ch. 3): train an add-1-smoothed bigram
    * language model ON the corpus itself and score each SOURCE by
    * average negative log-likelihood — the perplexity-proxy quality
    * filter of LLM data pipelines (a source whose text surprises the
    * corpus LM is boilerplate, markup soup, or a different register;
    * CCNet buckets documents by exactly this statistic). P(w₂|w₁) =
    * (C(w₁w₂)+1)/(C(w₁)+V) with context counts C(w₁) = Σ bigrams
    * starting at w₁ and V the corpus vocabulary.
    *
    * Parity: −ln P = ln(C₁+V) − ln(C₁₂+1) — BOTH libm calls take
    * exact-integer arguments and are floor-quantized to 1e-9 quanta
    * (the q187 convention), so the per-source sum is an exact int64/
    * DECIMAL sum of quantized terms; the final ppl = exp(avg) takes
    * the 6dp-ROUNDED average (identical double both engines) and
    * floor-quantizes 1e-4.
    *
    * Scale: the model IS a distributed table (bigram counts — no
    * driver state, unlike a real LM); scoring is two equi-joins on
    * (bigram, context) + one 1-row vocab broadcast (BNLJ
    * allowlisted). The per-source bigram census rides one lazy
    * localCheckpoint (it feeds the model AND the scoring join). */
  def q286LmScore(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val occ = Tables.documents(s, dir).select(col("source"),
      explode(graft.functions.SimFns.wordBigrams(col("text"))).as("bg"))
    val srcbg = occ.groupBy("source", "bg").agg(count(lit(1)).as("k"))
      .localCheckpoint(eager = false)
    val glob = srcbg.groupBy("bg").agg(sum(col("k")).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val ctx = glob.groupBy("w1").agg(sum(col("c12")).as("c1"))
    val vocab = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("w"))
      .agg(count_distinct(col("w")).as("v"))
    def qln9(c: org.apache.spark.sql.Column) =
      Parity.quant(log(c.cast("double")), 1e9)
    val scored = srcbg.join(glob.select("bg", "c12", "w1"), "bg")
      .join(ctx, "w1")
      .crossJoin(broadcast(vocab))
      .select(col("source"), col("k"), col("v"),
        (qln9(col("c1") + col("v")) - qln9(col("c12") + lit(1L)))
          .as("nll9"))
    val g = scored.groupBy("source")
      .agg(sum(col("k")).as("n_bigrams"),
        count(lit(1)).as("bigram_types"),
        max(col("v")).as("vocab"),
        sum(col("k").cast(dec) * col("nll9").cast(dec)).as("snll"))
    val avg = Parity.fix(col("snll").cast("double") / 1e9 /
      col("n_bigrams").cast("double"), 6)
    g.select(col("source"), col("n_bigrams"), col("bigram_types"),
        col("vocab"), avg.as("avg_nll"),
        Parity.fix(exp(avg), 4).as("ppl"))
      .orderBy("source")
  }

  val q286LmScoreSql: String =
    """WITH bgx AS (
      |  SELECT source,
      |    unnest(CASE WHEN len(string_split(text, ' ')) < 2 THEN []
      |      ELSE list_transform(
      |        generate_series(1, len(string_split(text, ' ')) - 1),
      |        i -> string_split(text, ' ')[i] || ' '
      |          || string_split(text, ' ')[i + 1]) END) AS bg
      |  FROM documents),
      |sb AS (
      |  SELECT source, bg, COUNT(*) AS k FROM bgx GROUP BY 1, 2),
      |gl AS (
      |  SELECT bg, CAST(SUM(k) AS BIGINT) AS c12,
      |    string_split(bg, ' ')[1] AS w1
      |  FROM sb GROUP BY bg),
      |cx AS (
      |  SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM gl GROUP BY w1),
      |vv AS (
      |  SELECT COUNT(DISTINCT w) AS v FROM
      |    (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
      |sc AS (
      |  SELECT source, k, v,
      |    CAST(FLOOR(LN(CAST(c1 + v AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
      |      - CAST(FLOOR(LN(CAST(c12 + 1 AS DOUBLE)) * 1e9 + 0.5)
      |        AS BIGINT) AS nll9
      |  FROM sb JOIN gl USING (bg) JOIN cx USING (w1) CROSS JOIN vv),
      |g AS (
      |  SELECT source, CAST(SUM(k) AS BIGINT) AS n_bigrams,
      |    COUNT(*) AS bigram_types, CAST(MAX(v) AS BIGINT) AS vocab,
      |    CAST(SUM(CAST(k AS HUGEINT) * nll9) AS HUGEINT) AS snll
      |  FROM sc GROUP BY source)
      |SELECT source, n_bigrams, bigram_types, vocab,
      |  FLOOR(CAST(snll AS DOUBLE) / 1e9 / n_bigrams * 1e6 + 0.5) / 1e6
      |    AS avg_nll,
      |  FLOOR(EXP(FLOOR(CAST(snll AS DOUBLE) / 1e9 / n_bigrams * 1e6
      |      + 0.5) / 1e6)
      |    * 1e4 + 0.5) / 1e4 AS ppl
      |FROM g ORDER BY source""".stripMargin

  /** L235 interpolated Kneser–Ney bigram LM ([PK] Kneser & Ney 1995;
    * Chen & Goodman 1999): the smoother real LM-quality pipelines
    * (KenLM, CCNet-class filters) actually ship, next to q286's add-1
    * baseline. Two ideas add-1 lacks: (a) absolute DISCOUNTING — mass
    * is moved off observed bigrams by a fixed D estimated from the
    * count-of-counts (D = n₁/(n₁+2n₂), the Ney–Essen–Kneser leave-one-
    * out estimate), not by inflating the denominator, so frequent
    * bigrams keep nearly all their mass where add-1 butchers them on
    * Heaps-tailed vocabularies; (b) the CONTINUATION back-off — the
    * unigram fallback weighs how many distinct CONTEXTS a word follows
    * (N1+(•w)/T), not its raw frequency ("francisco" is frequent but
    * only ever follows "san"). Per-language cross-entropy of the
    * corpus under its own KN model: the register-coherence readout
    * (high H = that language slice is a grab-bag of registers).
    *
    * P(w₂|w₁) = max(c₁₂−D,0)/c₁ + D·N1+(w₁•)/c₁ · N1+(•w₂)/T.
    *
    * Parity: all counts exact int64; D is one double division of exact
    * ints; each bigram's log₂P is a deterministic double chain
    * nano-quantized at the source (q187/q286 convention), then
    * Σ c₁₂·log₂P rides DECIMAL(38,0)/HUGEINT exactly; ppl = 2^H takes
    * the 6dp-rounded H and floor-quantizes 1e-4.
    *
    * Scale: the model is distributed tables keyed by vocab — the
    * (lang,w₁) context census and (lang,w₂) continuation census are
    * both Heaps-capped; the per-lang (T, N, n₁, n₂, D) census is a
    * ≤|langs|-row broadcast. One lazy localCheckpoint on the bigram
    * census (feeds all three marginals + the scoring join). */
  def q300KneserNey(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val c12 = Tables.documents(s, dir).select(col("lang"),
        explode(graft.functions.SimFns.wordBigrams(col("text"))).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .withColumn("w2", split(col("bg"), " ").getItem(1))
      .localCheckpoint(eager = false)
    val fw = c12.groupBy("lang", "w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1fw"))
    val bw = c12.groupBy("lang", "w2").agg(count(lit(1)).as("n1bw"))
    val gl = c12.groupBy("lang").agg(
      count(lit(1)).as("tt"), sum(col("c12")).as("nn"),
      sum(when(col("c12") === 1L, 1L).otherwise(0L)).as("k1"),
      sum(when(col("c12") === 2L, 1L).otherwise(0L)).as("k2"))
    val dD = when(col("k1") + col("k2") * 2L > 0L,
      col("k1").cast("double") / (col("k1") + col("k2") * 2L)
        .cast("double")).otherwise(lit(0.5))
    val p = greatest(col("c12").cast("double") - col("d"), lit(0.0)) /
      col("c1").cast("double") +
      col("d") * col("n1fw").cast("double") / col("c1").cast("double") *
        (col("n1bw").cast("double") / col("tt").cast("double"))
    val scored = c12.join(fw, Seq("lang", "w1"))
      .join(bw, Seq("lang", "w2"))
      .join(broadcast(gl.withColumn("d", dD)), "lang")
      .select(col("lang"), col("c12"), col("nn"), col("tt"), col("d"),
        Parity.quant(log2(p), 1e9).as("t9"))
    val g = scored.groupBy("lang").agg(
      max(col("nn")).as("n_bigrams"), count(lit(1)).as("bigram_types"),
      max(col("d")).as("d0"),
      sum(col("c12").cast(dec) * col("t9").cast(dec)).as("st"))
    val h = Parity.fix(-col("st").cast("double") / 1e9 /
      col("n_bigrams").cast("double"), 6)
    g.select(col("lang"), col("n_bigrams"), col("bigram_types"),
        Parity.fix(col("d0"), 6).as("discount"),
        h.as("h_bits"),
        Parity.fix(pow(lit(2.0), h), 4).as("ppl"))
      .orderBy("lang")
  }

  val q300KneserNeySql: String =
    """WITH bgx AS (
      |  SELECT lang,
      |    unnest(CASE WHEN len(string_split(text, ' ')) < 2 THEN []
      |      ELSE list_transform(
      |        generate_series(1, len(string_split(text, ' ')) - 1),
      |        i -> string_split(text, ' ')[i] || ' '
      |          || string_split(text, ' ')[i + 1]) END) AS bg
      |  FROM documents),
      |c12 AS (
      |  SELECT lang, bg, COUNT(*) AS c12,
      |    string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2
      |  FROM bgx GROUP BY lang, bg),
      |fw AS (
      |  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1,
      |    COUNT(*) AS n1fw
      |  FROM c12 GROUP BY lang, w1),
      |bw AS (
      |  SELECT lang, w2, COUNT(*) AS n1bw FROM c12 GROUP BY lang, w2),
      |gl AS (
      |  SELECT lang, COUNT(*) AS tt, CAST(SUM(c12) AS BIGINT) AS nn,
      |    CAST(SUM(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
      |    CAST(SUM(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS k2
      |  FROM c12 GROUP BY lang),
      |gld AS (
      |  SELECT lang, tt, nn,
      |    CASE WHEN k1 + 2 * k2 > 0
      |      THEN CAST(k1 AS DOUBLE) / CAST(k1 + 2 * k2 AS DOUBLE)
      |      ELSE 0.5 END AS d
      |  FROM gl),
      |sc AS (
      |  SELECT c12.lang, c12.c12, nn, tt, d,
      |    CAST(FLOOR(LOG2(
      |      GREATEST(CAST(c12.c12 AS DOUBLE) - d, 0.0)
      |        / CAST(c1 AS DOUBLE)
      |      + d * CAST(n1fw AS DOUBLE) / CAST(c1 AS DOUBLE)
      |        * (CAST(n1bw AS DOUBLE) / CAST(tt AS DOUBLE)))
      |      * 1e9 + 0.5) AS BIGINT) AS t9
      |  FROM c12
      |  JOIN fw ON c12.lang = fw.lang AND c12.w1 = fw.w1
      |  JOIN bw ON c12.lang = bw.lang AND c12.w2 = bw.w2
      |  JOIN gld ON c12.lang = gld.lang),
      |g AS (
      |  SELECT lang, CAST(MAX(nn) AS BIGINT) AS n_bigrams,
      |    COUNT(*) AS bigram_types, MAX(d) AS d0,
      |    CAST(SUM(CAST(c12 AS HUGEINT) * t9) AS HUGEINT) AS st
      |  FROM sc GROUP BY lang)
      |SELECT lang, n_bigrams, bigram_types,
      |  FLOOR(d0 * 1e6 + 0.5) / 1e6 AS discount,
      |  FLOOR(-CAST(st AS DOUBLE) / 1e9 / n_bigrams * 1e6 + 0.5) / 1e6
      |    AS h_bits,
      |  FLOOR(POWER(2.0,
      |    FLOOR(-CAST(st AS DOUBLE) / 1e9 / n_bigrams * 1e6 + 0.5) / 1e6)
      |    * 1e4 + 0.5) / 1e4 AS ppl
      |FROM g ORDER BY lang""".stripMargin

  /** L238 Burrows' Delta stylometry ([PK] Burrows 2002; Argamon 2008):
    * the classical authorship/register distance between the 20 source
    * slices — z-score each source's relative frequency of the corpus's
    * top-30 words against the across-source distribution, then
    * Delta(i,j) = mean |z_i − z_j| over the word panel. In a training
    * pipeline this is the SOURCE-level style-drift matrix: a source
    * pair with tiny Delta is near-duplicate register (collapse their
    * mixing weights); an outlier row is a source whose function-word
    * profile diverges from the rest (scraper fault or genre shift).
    * Complements q124's n-gram OVERLAP matrix (shared content) — Delta
    * sees shared STYLE even with zero content overlap.
    *
    * Parity: per-cell relative frequencies are quantized at source —
    * fq = ⌊c/t·10¹²⌋ computed in IEEE doubles (identical bits both
    * engines), giving exact int64 cells; across-source moments Σfq,
    * Σfq² are then exact int64/DECIMAL, σ_w one sqrt; each pair-word
    * |Δfq|/σ_w term is nano-quantized before the exact per-pair sum
    * (the q192 discipline — a 30-term double sum would be
    * order-hazardous). Constant words (σ_w = 0, exact test) drop from
    * the panel for every pair alike.
    *
    * Scale: the word panel is fixed (top-30 by global count, ties by
    * word — deterministic TakeOrdered); the dense grid is 30×|sources|
    * (one tiny broadcast cross join, allowlisted), pairs are
    * |sources|² — everything after the per-source term census is
    * bounded by the SOURCE count, never the corpus. */
  def q304BurrowsDelta(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val cnt = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
      .localCheckpoint(eager = false)
    val stot = cnt.groupBy("source").agg(sum(col("c")).as("t"))
    val topk = cnt.groupBy("w").agg(sum(col("c")).as("cw"))
      .orderBy(col("cw").desc, col("w")).limit(30).select("w")
    val grid = broadcast(topk).crossJoin(broadcast(stot))
      .join(cnt, Seq("source", "w"), "left")
      .select(col("source"), col("w"),
        floor(coalesce(col("c"), lit(0L)).cast("double") * 1e12 /
          col("t").cast("double")).cast("long").as("fq"))
      .localCheckpoint(eager = false)
    val stats = grid.groupBy("w").agg(count(lit(1)).as("ns"),
      sum(col("fq")).as("sf"),
      sum(col("fq").cast(dec) * col("fq").cast(dec)).as("sff"))
      .withColumn("vw", col("ns").cast(dec) * col("sff") -
        col("sf").cast(dec) * col("sf").cast(dec))
      .withColumn("sigma",
        sqrt(col("vw").cast("double")) / col("ns").cast("double"))
    val pairs = grid.select(col("w"), col("source").as("src_a"),
        col("fq").as("fa"))
      .join(grid.select(col("w"), col("source").as("src_b"),
        col("fq").as("fb")), "w")
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(stats.select("w", "vw", "sigma")), "w")
      .select(col("src_a"), col("src_b"),
        when(col("vw") > lit(0L).cast(dec),
          Parity.quant(abs(col("fa") - col("fb")).cast("double") / col("sigma"),
            1e9))
          .otherwise(lit(0L)).as("t9"),
        when(col("vw") > lit(0L).cast(dec), 1L).otherwise(0L).as("k1"))
    pairs.groupBy("src_a", "src_b")
      .agg(sum(col("k1")).as("n_words"),
        Parity.fix(sum(col("t9")).cast("double") / 1e9 /
          sum(col("k1")).cast("double"), 6).as("delta"))
      .orderBy("src_a", "src_b")
  }

  val q304BurrowsDeltaSql: String =
    """WITH cnt AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |cc AS (SELECT source, w, COUNT(*) AS c FROM cnt GROUP BY 1, 2),
      |stot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS t FROM cc
      |  GROUP BY source),
      |topk AS (SELECT w FROM (SELECT w, CAST(SUM(c) AS BIGINT) AS cw
      |  FROM cc GROUP BY w) ORDER BY cw DESC, w LIMIT 30),
      |grid AS (
      |  SELECT stot.source, topk.w,
      |    CAST(FLOOR(CAST(COALESCE(cc.c, 0) AS DOUBLE) * 1e12
      |      / CAST(stot.t AS DOUBLE)) AS BIGINT) AS fq
      |  FROM topk CROSS JOIN stot
      |  LEFT JOIN cc ON cc.source = stot.source AND cc.w = topk.w),
      |stats AS (
      |  SELECT w, COUNT(*) AS ns, CAST(SUM(fq) AS BIGINT) AS sf,
      |    CAST(SUM(CAST(fq AS HUGEINT) * fq) AS HUGEINT) AS sff
      |  FROM grid GROUP BY w),
      |st2 AS (
      |  SELECT w,
      |    CAST(ns AS HUGEINT) * sff - CAST(sf AS HUGEINT) * sf AS vw,
      |    SQRT(CAST(CAST(ns AS HUGEINT) * sff
      |      - CAST(sf AS HUGEINT) * sf AS DOUBLE)) / CAST(ns AS DOUBLE)
      |      AS sigma
      |  FROM stats),
      |pr AS (
      |  SELECT a.src_a, b.src_b,
      |    CASE WHEN vw > 0
      |      THEN CAST(FLOOR(CAST(ABS(a.fa - b.fb) AS DOUBLE) / sigma
      |        * 1e9 + 0.5) AS BIGINT)
      |      ELSE 0 END AS t9,
      |    CASE WHEN vw > 0 THEN 1 ELSE 0 END AS k1
      |  FROM (SELECT w, source AS src_a, fq AS fa FROM grid) a
      |  JOIN (SELECT w, source AS src_b, fq AS fb FROM grid) b
      |    ON a.w = b.w AND a.src_a < b.src_b
      |  JOIN st2 ON st2.w = a.w)
      |SELECT src_a, src_b, CAST(SUM(k1) AS BIGINT) AS n_words,
      |  FLOOR(CAST(SUM(t9) AS DOUBLE) / 1e9 / CAST(SUM(k1) AS DOUBLE)
      |    * 1e6 + 0.5) / 1e6 AS delta
      |FROM pr GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin

  /** L253 tokenizer fertility panel ([PK] the chars/bytes-per-token
    * budgeting arithmetic every multilingual tokenizer report tabulates
    * — e.g. the XLM-R / BLOOM fertility tables): per language —
    * characters per token, BYTES per token (the number that actually
    * prices storage and context windows; diverges from chars/token the
    * moment text leaves ASCII), tokens per document, and the
    * type-token ratio. The capacity-planning census a data pipeline
    * consults before fixing per-language token budgets (q308's water
    * filling takes these as input).
    *
    * Parity: all four ratios are exact-integer half-up divisions at
    * 4dp ((x·2·10⁴ + y) div (2y) — the q166 discipline), so no float
    * division ever happens. Scale: one map-side per-doc census + one
    * vocab-keyed distinct count per language. */
  def q319FertilityPanel(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("text"),
        size(tokens(col("text"))).cast("long").as("tk"),
        length(col("text")).cast("long").as("ch"),
        octet_length(col("text")).cast("long").as("by"))
    val base = d.groupBy("lang").agg(count(lit(1)).as("nd"),
      sum(col("tk")).as("stk"), sum(col("ch")).as("sch"),
      sum(col("by")).as("sby"))
    val types = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang").agg(count_distinct(col("w")).as("tt"))
    def hu4(num: Column, den: Column): Column = {
      // exact half-up integer division at 4dp (the q166 discipline)
      val h = num * 20000L + den
      val d2 = den * 2L
      ((h - pmod(h, d2)) / d2).cast("long").cast("double") / 1e4
    }
    base.join(types, "lang")
      .select(col("lang"), col("nd").cast("long").as("n_docs"),
        col("stk").cast("long").as("n_tokens"),
        col("tt").cast("long").as("n_types"),
        hu4(col("sch"), col("stk")).as("chars_per_token"),
        hu4(col("sby"), col("stk")).as("bytes_per_token"),
        hu4(col("stk"), col("nd")).as("tokens_per_doc"),
        hu4(col("tt"), col("stk")).as("type_token_ratio"))
      .orderBy("lang")
  }

  val q319FertilityPanelSql: String =
    """WITH d AS (
      |  SELECT lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS tk,
      |    CAST(length(text) AS BIGINT) AS ch,
      |    CAST(strlen(text) AS BIGINT) AS by
      |  FROM documents),
      |base AS (
      |  SELECT lang, COUNT(*) AS nd, CAST(SUM(tk) AS BIGINT) AS stk,
      |    CAST(SUM(ch) AS BIGINT) AS sch, CAST(SUM(by) AS BIGINT) AS sby
      |  FROM d GROUP BY lang),
      |types AS (
      |  SELECT lang, COUNT(DISTINCT w) AS tt
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY lang)
      |SELECT base.lang, nd AS n_docs, stk AS n_tokens,
      |  CAST(tt AS BIGINT) AS n_types,
      |  CAST((sch * 20000 + stk) // (stk * 2) AS DOUBLE) / 1e4
      |    AS chars_per_token,
      |  CAST((sby * 20000 + stk) // (stk * 2) AS DOUBLE) / 1e4
      |    AS bytes_per_token,
      |  CAST((stk * 20000 + nd) // (nd * 2) AS DOUBLE) / 1e4
      |    AS tokens_per_doc,
      |  CAST((tt * 20000 + stk) // (stk * 2) AS DOUBLE) / 1e4
      |    AS type_token_ratio
      |FROM base JOIN types ON base.lang = types.lang
      |ORDER BY base.lang""".stripMargin

  /** L247 DSIR-style hashed importance weights ([PK] Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling";
    * the hashed-n-gram variant is their production recipe): score
    * every document by how much more likely its tokens are under the
    * TARGET distribution (the `en` slice) than under the raw corpus —
    * log w(d) = Σ_tokens ln(P_target(bucket)/P_raw(bucket)) over 1024
    * hashed token buckets with add-1 smoothing. The domain-matching
    * primitive of LLM data curation: resample raw data by these
    * weights and the mix shifts toward the target domain without a
    * trained classifier (q49's trainable scorer is the alternative).
    *
    * Features are WORDS, not hash buckets: the 1024-bucket hashed
    * variant was built first and measured VACUOUS on this corpus
    * (bucket collisions across languages erased the en-vs-rest
    * separation — mean Δlogw ≈ 0.01); the word-level census keeps the
    * signal (en mean logw > 0 > every other language's mean, both
    * SFs, pinned) and is equally scale-safe because the vocabulary is
    * Heaps-capped — the per-word ratio table is a vocab-keyed SHUFFLE
    * join, never a broadcast.
    *
    * Parity: every ln takes an EXACT integer argument ((c+1) counts,
    * (T+V) totals — add-1 over the shared vocabulary) and is
    * nano-quantized at source (q286 convention), so each doc's
    * Σ c_w·Δln9 is an exact int64/DECIMAL sum; display /1e9, 6dp. */
  def q313DsirWeights(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
      .localCheckpoint(eager = false)
    val db = tok.groupBy("doc_id", "lang", "w")
      .agg(count(lit(1)).as("c"))
    val ws = tok.groupBy("w").agg(
      sum(when(col("lang") === "en", 1L).otherwise(0L)).as("ct"),
      count(lit(1)).as("cr"))
    val tot = ws.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"),
      count(lit(1)).as("v"))
    def qln9(c: Column) = Parity.quant(log(c.cast("double")), 1e9)
    val lnq = ws.crossJoin(broadcast(tot))
      .select(col("w"),
        (qln9(col("ct") + 1L) - qln9(col("tt") + col("v")) -
          qln9(col("cr") + 1L) + qln9(col("tr") + col("v"))).as("d9"))
    val perDoc = db.join(lnq, "w")
      .groupBy("doc_id", "lang")
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c").cast(dec) * col("d9").cast(dec)).as("w9"))
    perDoc.select(col("doc_id"), col("lang"),
        col("n_tokens").cast("long").as("n_tokens"),
        Parity.fix(col("w9").cast("double") / 1e9, 6)
          .as("dsir_logw"),
        when(col("w9") > lit(0L).cast(dec), 1L).otherwise(0L)
          .as("target_like"))
      .orderBy("doc_id")
  }

  val q313DsirWeightsSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |db AS (
      |  SELECT doc_id, lang, w, COUNT(*) AS c
      |  FROM tok GROUP BY doc_id, lang, w),
      |ws AS (
      |  SELECT w,
      |    CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS ct,
      |    COUNT(*) AS cr
      |  FROM tok GROUP BY w),
      |tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS tt,
      |    CAST(SUM(cr) AS BIGINT) AS tr, COUNT(*) AS v FROM ws),
      |lnq AS (
      |  SELECT w,
      |    CAST(FLOOR(LN(CAST(ct + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
      |    - CAST(FLOOR(LN(CAST(tt + v AS DOUBLE)) * 1e9 + 0.5)
      |        AS BIGINT)
      |    - CAST(FLOOR(LN(CAST(cr + 1 AS DOUBLE)) * 1e9 + 0.5) AS BIGINT)
      |    + CAST(FLOOR(LN(CAST(tr + v AS DOUBLE)) * 1e9 + 0.5)
      |        AS BIGINT) AS d9
      |  FROM ws CROSS JOIN tot),
      |pd AS (
      |  SELECT doc_id, lang, CAST(SUM(c) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(c AS HUGEINT) * d9) AS HUGEINT) AS w9
      |  FROM db JOIN lnq USING (w)
      |  GROUP BY doc_id, lang)
      |SELECT doc_id, lang, n_tokens,
      |  FLOOR(CAST(w9 AS DOUBLE) / 1e9 * 1e6 + 0.5) / 1e6 AS dsir_logw,
      |  CASE WHEN w9 > 0 THEN 1 ELSE 0 END AS target_like
      |FROM pd ORDER BY doc_id""".stripMargin

  /** L254 script-aware fertility panel: the q319 byte/char fertility
    * statistics over a MULTI-BYTE corpus — the round-13 verdict's
    * mandate #4. The fixture text is ASCII by construction (q319 pins
    * `bytes ≡ chars` as the fixture contract), so the bytes-vs-chars
    * distinction the fertility panel exists to measure was vacuous in
    * every oracle-gated path. This query restores the distinction
    * END-TO-END: a deterministic per-language transliteration layer
    * (the `lang` column already CLAIMS de/es/fr/zh — the text just
    * never matched) maps a fixed character set into each language's
    * script — umlauts/ß for de, acute-accented vowels + ñ for es,
    * grave/cedilla for fr, and an 18-consonant-and-vowel CJK mapping
    * for zh (3-byte UTF-8) — then computes the fertility panel on the
    * transliterated text in BOTH engines, so tokenizer, char-length,
    * and byte-length semantics on multi-byte input are all
    * oracle-checked at both SFs.
    *
    * The mappings are codepoint-1:1 and space-free, so token counts
    * and char counts are IDENTICAL to the ASCII corpus — only bytes
    * inflate, by a per-script factor the NonDegeneracySpec pin orders:
    * en = 1.0 < {de, es, fr} < 2.0 < zh. Injective per language
    * (distinct targets outside the ASCII source alphabet), so type
    * counts are preserved too.
    *
    * Parity: Spark `translate` and DuckDB `translate` both map per
    * codepoint; `length` counts codepoints and `octet_length`/
    * `strlen` count UTF-8 bytes in both engines. Ratios ride the q319
    * exact half-up integer division at 4dp.
    *
    * Scale: one map-side transliteration + one ≤|langs|-group agg —
    * the q319 plan with a codegen'd string map fused into the scan. */
  def q320ScriptFertility(s: SparkSession, dir: String): DataFrame = {
    // the transliteration layer lives in TextFns since r15 (shared
    // with q334's hash-kernel path); values byte-identical to the
    // original inline form
    val xt = graft.functions.TextFns.scriptXlit(col("lang"), col("text"))
    val d = Tables.documents(s, dir)
      .select(col("lang"),
        size(tokens(xt)).cast("long").as("tk"),
        length(xt).cast("long").as("ch"),
        octet_length(xt).cast("long").as("by"))
    val base = d.groupBy("lang").agg(count(lit(1)).as("nd"),
      sum(col("tk")).as("stk"), sum(col("ch")).as("sch"),
      sum(col("by")).as("sby"))
    def hu4(num: Column, den: Column): Column = {
      val h = num * 20000L + den
      val d2 = den * 2L
      ((h - pmod(h, d2)) / d2).cast("long").cast("double") / 1e4
    }
    base.select(col("lang"), col("nd").cast("long").as("n_docs"),
        col("stk").cast("long").as("n_tokens"),
        hu4(col("sch"), col("stk")).as("chars_per_token"),
        hu4(col("sby"), col("stk")).as("bytes_per_token"),
        hu4(col("sby"), col("sch")).as("bytes_per_char"))
      .orderBy("lang")
  }

  val q320ScriptFertilitySql: String =
    s"""WITH xd AS (
      |  SELECT lang,
      |    ${graft.functions.TextFns.scriptXlitSql("lang", "text")} AS xt
      |  FROM documents),
      |d AS (
      |  SELECT lang,
      |    CAST(len(string_split(xt, ' ')) AS BIGINT) AS tk,
      |    CAST(length(xt) AS BIGINT) AS ch,
      |    CAST(strlen(xt) AS BIGINT) AS by
      |  FROM xd),
      |base AS (
      |  SELECT lang, COUNT(*) AS nd, CAST(SUM(tk) AS BIGINT) AS stk,
      |    CAST(SUM(ch) AS BIGINT) AS sch, CAST(SUM(by) AS BIGINT) AS sby
      |  FROM d GROUP BY lang)
      |SELECT lang, nd AS n_docs, stk AS n_tokens,
      |  CAST((sch * 20000 + stk) // (stk * 2) AS DOUBLE) / 1e4
      |    AS chars_per_token,
      |  CAST((sby * 20000 + stk) // (stk * 2) AS DOUBLE) / 1e4
      |    AS bytes_per_token,
      |  CAST((sby * 20000 + sch) // (sch * 2) AS DOUBLE) / 1e4
      |    AS bytes_per_char
      |FROM base
      |ORDER BY lang""".stripMargin
  /** L268 multi-byte fingerprint census (r14 verdict mandate #5): the
    * q47 hash-kernel fingerprint panel computed on TRANSLITERATED
    * multi-byte text — doc hash, minimum 3-shingle hash, shingle
    * count, and the first MinHash signature element, per document.
    * q320 proved tokenizer/char/byte semantics on multi-byte input;
    * the token-hash family (L3–L5, L11 — MinHash banding, SimHash,
    * feature-hash embedding) still only ever saw ASCII through the
    * oracle gate. This query closes that blind spot: every output
    * value is a DIRECT function of multi-byte codepoints flowing
    * through the codegen'd polynomial-hash kernels
    * (`token_hashes` → `shingle_hashes` → `doc_hash` / min-hash), and
    * the mirror recomputes the identical folds from DuckDB's
    * `string_split(t, '')` + `ascii` (codepoint semantics in both
    * engines — probed: ascii('ä') = 228, ascii('一') = 19968 in both).
    *
    * Parity: every value is an exact int64 polynomial fold mod 1e9+7;
    * no doubles anywhere. min/count over exact ints.
    *
    * Scale: pure map-side per-row kernels + one TakeOrdered output
    * sort — no join, no shuffle beyond the final order. */
  def q334MultibyteFingerprint(s: SparkSession, dir: String): DataFrame = {
    val xt = scriptXlit(col("lang"), col("text"))
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), tokenHashes(xt).as("th"))
      .withColumn("shd", array_distinct(shingleHashes(col("th"), 3)))
    d.select(col("doc_id"), col("lang"),
        docHash(col("th")).as("doc_hash"),
        array_min(col("shd")).as("min_shingle"),
        size(col("shd")).cast("long").as("n_shingles"),
        when(size(col("shd")) > 0,
          element_at(minHashSignature(col("shd"), Seq((37L, 17L))), 1))
          .as("mh1"))
      .orderBy("doc_id")
  }

  val q334MultibyteFingerprintSql: String =
    s"""WITH xd AS (
      |  SELECT doc_id, lang,
      |    ${scriptXlitSql("lang", "text")} AS xt
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, lang, ${tokenHashesSql("xt")} AS th FROM xd),
      |sh AS (
      |  SELECT doc_id, lang, th,
      |    list_distinct(CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[])
      |      ELSE list_transform(generate_series(1, len(th) - 2),
      |             i -> ${docHashSql("th[i:i+2]")}) END) AS shd
      |  FROM t)
      |SELECT doc_id, lang,
      |  ${docHashSql("th")} AS doc_hash,
      |  list_min(shd) AS min_shingle,
      |  CAST(len(shd) AS BIGINT) AS n_shingles,
      |  CASE WHEN len(shd) > 0
      |    THEN list_min(list_transform(shd, x -> (37 * x + 17) % $P))
      |    ELSE NULL END AS mh1
      |FROM sh ORDER BY doc_id""".stripMargin

  /** L289 index of coincidence ([PK] Friedman 1922 — the kappa test):
    * per language, the probability two randomly drawn non-space
    * characters of the transliterated corpus are EQUAL —
    * IC = Σ_c n_c(n_c−1) / (N(N−1)) — the repeat-probability
    * character statistic beside q187's entropy (IC weights SQUARED
    * frequencies, so it is the collision view; a flat alphabet gives
    * 1/|A|, skew raises it). Computed on the q320 transliterated text,
    * which pins IC's DEFINING invariance: the per-language maps are
    * codepoint-1:1 relabelings, so every language must read the SAME
    * IC up to sampling noise (measured 0.0613–0.0620 across all five
    * scripts) while sitting decisively ABOVE the uniform-24-symbol
    * floor 1/24 ≈ 0.0417 — the statistic sees the frequency
    * DISTRIBUTION, never the symbols.
    *
    * Parity: an EXACT integer census end-to-end; IC is ONE exact-
    * rational division, floor-quantized 6dp. Character splitting is
    * codepoint-based in both engines (proved by q334).
    *
    * Scale: explode chars → (lang, char) hash agg (map-side
    * combinable; exchanged volume ∝ |alphabet|·|langs|), one
    * ≤|langs|-group fold. */
  def q355IndexOfCoincidence(s: SparkSession, dir: String): DataFrame = {
    val xt = graft.functions.TextFns.scriptXlit(col("lang"), col("text"))
    val chars = Tables.documents(s, dir)
      .select(col("lang"), explode(split(xt, "")).as("ch"))
      .filter(col("ch") =!= " " && col("ch") =!= "")
    val census = chars.groupBy("lang", "ch").agg(count(lit(1)).as("c"))
    val g = census.groupBy("lang")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("decimal(38,0)") * (col("c") - 1L)).as("coll"))
    def f(c: Column) = c.cast("double")
    val ic = f(col("coll")) / (f(col("n")) * (f(col("n")) - 1.0))
    g.select(col("lang"), col("n").cast("long").as("n_chars"),
        col("n_distinct").cast("long").as("n_alphabet"),
        when(col("n") < 2L, lit(null).cast("double"))
          .otherwise(Parity.fix(ic, 6)).as("ic"))
      .orderBy("lang")
  }

  val q355IndexOfCoincidenceSql: String =
    s"""WITH xd AS (
      |  SELECT lang,
      |    ${graft.functions.TextFns.scriptXlitSql("lang", "text")} AS xt
      |  FROM documents),
      |ch AS (
      |  SELECT lang, unnest(string_split(xt, '')) AS ch FROM xd),
      |cf AS (SELECT lang, ch FROM ch WHERE ch <> ' ' AND ch <> ''),
      |census AS (
      |  SELECT lang, ch, COUNT(*) AS c FROM cf GROUP BY lang, ch),
      |g AS (
      |  SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
      |    COUNT(*) AS n_distinct,
      |    CAST(SUM(CAST(c AS HUGEINT) * (c - 1)) AS HUGEINT) AS coll
      |  FROM census GROUP BY lang)
      |SELECT lang, n AS n_chars,
      |  CAST(n_distinct AS BIGINT) AS n_alphabet,
      |  CASE WHEN n < 2 THEN NULL
      |    ELSE FLOOR(CAST(coll AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) * 1e6
      |      + 0.5) / 1e6 + 0 END AS ic
      |FROM g ORDER BY lang""".stripMargin

  /** L263 HD-D lexical diversity ([PK] McCarthy & Jarvis 2010 — the
    * hypergeometric-distribution D): the probability-exact successor
    * to TTR (q277's raw type-token ratio is length-confounded; HD-D
    * asks "in a random 42-token sample from this document, how many
    * TYPES do we expect?", which is length-invariant). Per document
    * with N ≥ 42 tokens: HD-D = Σ_types (1 − P(type absent from a
    * 42-sample))/42, P(absent) = Π_{i=0..41} (N−n_w−i)/(N−i); the
    * panel reports the per-language mean.
    *
    * Parity: the 42-term product is a SEQUENTIAL LEFT FOLD in both
    * engines (Spark `aggregate` HOF, DuckDB `list_reduce`) — the same
    * 42 IEEE multiplications in the same order on exact-int-derived
    * ratios, so the doubles agree bit-for-bit; each type's
    * contribution is floor-quantized to nano-units BEFORE the
    * within-doc sum (q179/q185 convention), and the per-language mean
    * is one exact-int division, 6dp.
    *
    * Scale: one explode → (doc, type) census (map-side combinable),
    * one doc census, a doc-keyed join, ≤|langs|-group agg. The
    * 42-fold is per-ROW compute, no join. */
  def q329HddDiversity(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(tokens(col("text"))).as("w"))
    val perType = tok.groupBy("doc_id", "lang", "w")
      .agg(count(lit(1)).as("nw"))
    val perDoc = perType.groupBy("doc_id", "lang")
      .agg(sum(col("nw")).as("nn"))
      .filter(col("nn") >= 42L)
    val nD = col("nn").cast("double")
    val nwD = col("nw").cast("double")
    val pAbsent = when(col("nn") - col("nw") < 42L, lit(0.0))
      .otherwise(aggregate(sequence(lit(0), lit(41)), lit(1.0),
        (acc, i) => acc *
          ((nD - nwD - i.cast("double")) / (nD - i.cast("double")))))
    val contrib9 = Parity.quant(lit(1.0) - pAbsent, 1e9)
    val perDocHdd = perType.join(perDoc, Seq("doc_id", "lang"))
      .withColumn("c9", contrib9)
      .groupBy("doc_id", "lang").agg(sum(col("c9")).as("h9"))
    perDocHdd.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(col("h9")).as("sh9"))
      .select(col("lang"), col("n_docs").cast("long").as("n_docs"),
        Parity.fix(col("sh9").cast("double") /
          (col("n_docs").cast("double") * 42.0e9), 6).as("mean_hdd"))
      .orderBy("lang")
  }

  val q329HddDiversitySql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |pt AS (
      |  SELECT doc_id, lang, w, COUNT(*) AS nw
      |  FROM tok GROUP BY doc_id, lang, w),
      |pd AS (
      |  SELECT doc_id, lang, CAST(SUM(nw) AS BIGINT) AS nn
      |  FROM pt GROUP BY doc_id, lang
      |  HAVING SUM(nw) >= 42),
      |ct AS (
      |  SELECT pt.doc_id, pt.lang,
      |    CAST(FLOOR((1.0 - CASE WHEN pd.nn - pt.nw < 42 THEN 0.0
      |      ELSE list_reduce(list_prepend(1.0, list_transform(range(42),
      |        i -> (CAST(pd.nn AS DOUBLE) - pt.nw - i)
      |          / (CAST(pd.nn AS DOUBLE) - i))), (a, b) -> a * b)
      |      END) * 1e9 + 0.5) AS BIGINT) AS c9
      |  FROM pt JOIN pd USING (doc_id, lang)),
      |ph AS (
      |  SELECT doc_id, lang, CAST(SUM(c9) AS BIGINT) AS h9
      |  FROM ct GROUP BY doc_id, lang)
      |SELECT lang, COUNT(*) AS n_docs,
      |  FLOOR(CAST(SUM(h9) AS DOUBLE)
      |    / (COUNT(*) * 42.0e9) * 1e6 + 0.5) / 1e6 + 0 AS mean_hdd
      |FROM ph GROUP BY lang
      |ORDER BY lang""".stripMargin

  /** L290 PCM sample-frame census — the audio twin of q334's
    * multi-byte closure: a deterministic 8-sample PCM16LE frame is
    * synthesized per document (unhex(md5) — 16 bytes), and the
    * SIGNED LITTLE-ENDIAN int16 parse ([PK] the WAV/RIFF data-chunk
    * sample layout) runs through Spark's BINARY column machinery
    * (substring-on-binary byte slicing + hex/conv) — the exact
    * byte-level plumbing a real audio decode path exercises, under
    * the oracle hash gate. Per language: frame count, mean per-frame
    * RMS loudness, mean DC offset, peak amplitude, and the
    * clipped-sample census (|s| > 30000). md5-uniform samples pin the
    * expected regime: mean RMS near the uniform-int16 RMS
    * 65536/√12 ≈ 18918, clipping ≈ 2·2767/65536 ≈ 8.4 % of samples.
    *
    * Parity: each byte is one hex-pair integer on both engines
    * (Spark: hex(substring(binary)) → conv; DuckDB: strpos hex-digit
    * fold on the md5 text — the q333 mdFold convention); sample
    * squares/sums/extremes are EXACT int64 per frame; the one libm-free
    * double step (sqrt of an exactly-representable ssq/8) is
    * IEEE-correctly-rounded, micro-quantized per frame BEFORE the
    * language sum (memory rule: no raw doubles into cross-row sums).
    *
    * Scale: pure map + one ≤5-group hash agg — zero joins, zero
    * fact-table shuffle; the binary parse is in-row codegen. At 100 TB
    * the same shape holds with real audio bytes in place of the md5
    * synth (the synth exists because the container ships no codecs —
    * the PLUMBING is the operator). */
  def q356PcmCensus(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("lang"),
      unhex(md5(concat(lit("pcm:"), col("doc_id").cast("string"))))
        .as("pcm"))
    val sm = d.select(col("lang"), expr(
      """transform(sequence(0, 7), i ->
        |  cast(conv(hex(substring(pcm, int(2*i+1), 1)), 16, 10)
        |    as bigint) +
        |  256 * cast(conv(hex(substring(pcm, int(2*i+2), 1)), 16, 10)
        |    as bigint))""".stripMargin).as("u"))
      .select(col("lang"), expr(
        "transform(u, x -> IF(x >= 32768, x - 65536, x))").as("sm"))
    val perFrame = sm.select(col("lang"),
        expr("aggregate(sm, cast(0 as bigint), (a, x) -> a + x * x)")
          .as("ssq"),
        expr("aggregate(sm, cast(0 as bigint), (a, x) -> a + x)")
          .as("ssum"),
        expr("aggregate(sm, cast(0 as bigint), (a, x) -> greatest(a, abs(x)))")
          .as("pk"),
        expr("aggregate(sm, cast(0 as bigint), " +
          "(a, x) -> a + IF(abs(x) > 30000, cast(1 as bigint), " +
          "cast(0 as bigint)))").as("ncl"))
      .withColumn("rms6",
        Parity.quant(sqrt(col("ssq").cast("double") / 8.0), 1e6))
    perFrame.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        (count(lit(1)) * lit(8L)).as("n_samples"),
        Parity.fix(sum(col("rms6")).cast("double") / count(lit(1)) / 1e6,
          4).as("mean_rms"),
        Parity.fix(sum(col("ssum")).cast("double") / (count(lit(1)) * lit(8L)),
          4)
          .as("mean_dc"),
        max(col("pk")).as("peak_abs"),
        sum(col("ncl")).as("n_clipped"))
      .orderBy("lang")
  }

  val q356PcmCensusSql: String = {
    def hd(p: String): String =
      s"(strpos('0123456789abcdef', substr(hx, CAST($p AS INT), 1)) - 1)"
    s"""WITH h AS (
      |  SELECT doc_id, lang,
      |    md5('pcm:' || CAST(doc_id AS VARCHAR)) AS hx
      |  FROM documents),
      |sm AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      |  FROM (
      |    SELECT doc_id, lang,
      |      (${hd("4*i+1")} * 16 + ${hd("4*i+2")})
      |      + 256 * (${hd("4*i+3")} * 16 + ${hd("4*i+4")}) AS u
      |    FROM h, range(8) t(i)) q),
      |pf AS (
      |  SELECT lang, doc_id,
      |    SUM(s * s) AS ssq, SUM(s) AS ssum, MAX(ABS(s)) AS pk,
      |    SUM(CASE WHEN ABS(s) > 30000 THEN 1 ELSE 0 END) AS ncl
      |  FROM sm GROUP BY lang, doc_id)
      |SELECT lang, COUNT(*) AS n_docs, COUNT(*) * 8 AS n_samples,
      |  FLOOR(CAST(SUM(CAST(FLOOR(SQRT(CAST(ssq AS DOUBLE) / 8.0)
      |      * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / COUNT(*) / 1e6
      |    * 1e4 + 0.5) / 1e4 + 0 AS mean_rms,
      |  FLOOR(CAST(SUM(ssum) AS DOUBLE) / (COUNT(*) * 8)
      |    * 1e4 + 0.5) / 1e4 + 0 AS mean_dc,
      |  MAX(pk) AS peak_abs,
      |  CAST(SUM(ncl) AS BIGINT) AS n_clipped
      |FROM pf GROUP BY lang
      |ORDER BY lang""".stripMargin
  }

  /** L312 term burstiness / Poisson adaptation ([PK] Church & Gale
    * 1995; Katz 1996): content words are BURSTY — once a document
    * uses a term it tends to reuse it — so their document frequency
    * falls SHORT of the Poisson prediction df̂ = N(1 − e^(−cf/N)),
    * while function words track it. Per top-20 term by collection
    * frequency: cf, df, Katz's adaptation E[tf | tf > 0] = cf/df, and
    * the observed/Poisson df ratio — the screen that separates
    * topical vocabulary from glue in corpus curation (a burst-blind
    * tf weighting overcounts topical repetition).
    *
    * Parity: cf/df/N are exact integer censuses; burstiness is one
    * IEEE division of exact ints; the Poisson df̂ has ONE terminal
    * exp on the identical exact ratio (q354 exemption), 4dp; the
    * ratio divides the exact df by the quantized df̂.
    *
    * Scale: one explode → (term) hash agg (map-side combinable,
    * exchanged volume ~|vocab|), TakeOrdered 20, 1-row N broadcast. */
  def q377Burstiness(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val n = d.agg(count(lit(1)).as("n_docs"))
    val tf = d.select(col("doc_id"), explode(tokens(col("text")))
        .as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val stats = tf.groupBy("term")
      .agg(sum(col("tf")).as("cf"), count(lit(1)).as("df"))
      .orderBy(col("cf").desc, col("term")).limit(20)
    val nd = col("n_docs").cast("double")
    val dfHat = nd * (lit(1.0) -
      exp(lit(0.0) - col("cf").cast("double") / nd))
    stats.crossJoin(broadcast(n))
      .select(col("term"), col("cf"), col("df"),
        Parity.fix(col("cf").cast("double") / col("df").cast("double"), 4)
          .as("burstiness"),
        Parity.fix(dfHat, 4).as("df_poisson"),
        Parity.fix(col("df").cast("double") /
          greatest(Parity.fix(dfHat, 4), lit(1e-300)), 4).as("adaptation"))
      .orderBy(col("cf").desc, col("term"))
  }

  val q377BurstinessSql: String =
    """WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
      |tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY doc_id, term),
      |stats AS (
      |  SELECT term, CAST(SUM(tf) AS BIGINT) AS cf,
      |    CAST(COUNT(*) AS BIGINT) AS df
      |  FROM tf GROUP BY term
      |  ORDER BY cf DESC, term LIMIT 20),
      |f AS (
      |  SELECT term, cf, df, CAST(n_docs AS BIGINT) AS n_docs,
      |    FLOOR(CAST(n_docs AS DOUBLE) * (1.0
      |      - exp(0.0 - CAST(cf AS DOUBLE) / CAST(n_docs AS DOUBLE)))
      |      * 1e4 + 0.5) / 1e4 + 0 AS df_poisson
      |  FROM stats CROSS JOIN n)
      |SELECT term, cf, df,
      |  FLOOR(CAST(cf AS DOUBLE) / CAST(df AS DOUBLE) * 1e4 + 0.5)
      |    / 1e4 + 0 AS burstiness,
      |  df_poisson,
      |  FLOOR(CAST(df AS DOUBLE) / GREATEST(df_poisson, 1e-300)
      |    * 1e4 + 0.5) / 1e4 + 0 AS adaptation
      |FROM f ORDER BY cf DESC, term""".stripMargin

  /** L318 WAV/RIFF header parse census *(added r17)* — the second
    * oracle-gated multimodal kernel beside q356's PCM data-chunk
    * parse (the r16 verdict's suggested gap): a complete 44-byte
    * PCM-WAV header ([PK] the RIFF/WAVE canonical layout — the 1991
    * Microsoft/IBM RIFF spec) is SYNTHESIZED per document from
    * deterministic parameters (rate ∈ {8000, 16000, 22050, 44100,
    * 48000}, 1–2 channels, 100–999 frames, 16-bit), byte-assembled
    * little-endian through unhex, and then PARSED BACK field by field
    * through Spark's BINARY machinery (substring-on-binary byte
    * slicing + hex/conv LE folds): the four magic tags checked
    * against their byte values, nChannels/sampleRate/byteRate/
    * blockAlign/bits/dataSize decoded, and the header's INTERNAL
    * CONSISTENCY re-derived (byteRate = rate·ch·bits/8, blockAlign =
    * ch·bits/8, riffSize = 36 + dataSize) — the integrity census a
    * real ingest pipeline runs before trusting a container's
    * metadata. Per sample rate: file/stereo/valid counts, total
    * frames, exact total duration (µs, integer division), data
    * bytes.
    *
    * Parity: every field is exact integer byte arithmetic on both
    * engines (Spark parses the BINARY column; DuckDB the same hex
    * text through the q333 strpos fold); duration_us = frames·1e6
    * div rate is exact integer division; ZERO doubles anywhere.
    *
    * Scale: pure map + one ≤5-group hash agg — zero joins, zero
    * shuffle beyond the final 5-row agg; the synth exists because
    * the container ships no media files (the PARSE is the operator,
    * same contract as q356). */
  def q383WavHeaderCensus(s: SparkSession, dir: String): DataFrame = {
    def le16(c: Column): Column = concat(
      lpad(lower(hex(pmod(c, lit(256L)))), 2, "0"),
      lpad(lower(hex(pmod(floor(c / 256.0).cast("long"), lit(256L)))),
        2, "0"))
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("rate", element_at(
        typedlit(Seq(8000L, 16000L, 22050L, 44100L, 48000L)),
        (pmod(col("doc_id"), lit(5L)) + 1L).cast("int")))
      .withColumn("ch", lit(1L) + pmod(col("doc_id"), lit(2L)))
      .withColumn("frames", lit(100L) + pmod(col("doc_id"), lit(900L)))
      .withColumn("dsize", col("frames") * col("ch") * 2L)
    def le32(c: Column): Column =
      concat(le16(pmod(c, lit(65536L))),
        le16(floor(c / 65536.0).cast("long")))
    val hx = concat(lit("52494646"), le32(col("dsize") + 36L),
      lit("57415645"), lit("666d7420"), lit("10000000"), lit("0100"),
      le16(col("ch")), le32(col("rate")),
      le32(col("rate") * col("ch") * 2L), le16(col("ch") * 2L),
      lit("1000"), lit("64617461"), le32(col("dsize")))
    val wav = d.select(unhex(hx).as("wav"))
    // the operator: byte-level parse of the BINARY column
    def u8(i: Int): Column =
      conv(hex(substring(col("wav"), i, 1)), 16, 10).cast("long")
    def u16(i: Int): Column = u8(i) + u8(i + 1) * 256L
    def u32(i: Int): Column = u16(i) + u16(i + 2) * 65536L
    def tag(i: Int, hex4: String): Column =
      conv(hex(substring(col("wav"), i, 4)), 16, 10) === lit(
        java.lang.Long.parseLong(hex4, 16)).cast("string")
    val p = wav.select(
      (tag(1, "52494646") && tag(9, "57415645") &&
        tag(13, "666d7420") && tag(37, "64617461")).as("magic_ok"),
      u16(21).as("fmt"), u16(23).as("ch"), u32(25).as("rate"),
      u32(29).as("byte_rate"), u16(33).as("block"), u16(35).as("bits"),
      u32(5).as("riff_size"), u32(41).as("dsize"))
    val ok = col("magic_ok") && col("fmt") === 1L &&
      col("byte_rate") === expr("(rate * ch * bits) div 8") &&
      col("block") === expr("(ch * bits) div 8") &&
      col("riff_size") === col("dsize") + 36L
    p.withColumn("frames", expr("dsize div (ch * 2)"))
      .withColumn("dur_us", expr("(frames * 1000000) div rate"))
      .groupBy(col("rate").as("sample_rate"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("ch") === 2L, 1L).otherwise(0L)).as("n_stereo"),
        sum(ok.cast("long")).as("n_valid"),
        sum(col("frames")).as("total_frames"),
        sum(col("dur_us")).as("total_dur_us"),
        sum(col("dsize")).as("total_data_bytes"))
      .orderBy("sample_rate")
  }

  val q383WavHeaderCensusSql: String = {
    def hd(p: String): String =
      s"(strpos('0123456789abcdef', substr(hx, CAST($p AS INT), 1)) - 1)"
    def u8(i: Int): String = s"(${hd(s"${2 * i - 1}")} * 16 + ${hd(s"${2 * i}")})"
    def u16(i: Int): String = s"(${u8(i)} + ${u8(i + 1)} * 256)"
    def u32(i: Int): String = s"(${u16(i)} + ${u16(i + 2)} * 65536)"
    s"""WITH d AS (
      |  SELECT doc_id,
      |    ([8000, 16000, 22050, 44100, 48000])[(doc_id % 5) + 1]
      |      AS rate,
      |    1 + doc_id % 2 AS ch,
      |    100 + doc_id % 900 AS frames
      |  FROM documents),
      |d2 AS (SELECT *, frames * ch * 2 AS dsize FROM d),
      |h AS (
      |  SELECT '52494646'
      |    || printf('%02x%02x%02x%02x', (dsize + 36) % 256,
      |         ((dsize + 36) // 256) % 256, ((dsize + 36) // 65536) % 256,
      |         ((dsize + 36) // 16777216) % 256)
      |    || '57415645' || '666d7420' || '10000000' || '0100'
      |    || printf('%02x%02x', ch % 256, ch // 256)
      |    || printf('%02x%02x%02x%02x', rate % 256, (rate // 256) % 256,
      |         (rate // 65536) % 256, (rate // 16777216) % 256)
      |    || printf('%02x%02x%02x%02x', (rate * ch * 2) % 256,
      |         ((rate * ch * 2) // 256) % 256,
      |         ((rate * ch * 2) // 65536) % 256,
      |         ((rate * ch * 2) // 16777216) % 256)
      |    || printf('%02x%02x', (ch * 2) % 256, (ch * 2) // 256)
      |    || '1000' || '64617461'
      |    || printf('%02x%02x%02x%02x', dsize % 256,
      |         (dsize // 256) % 256, (dsize // 65536) % 256,
      |         (dsize // 16777216) % 256) AS hx
      |  FROM d2),
      |p AS (
      |  SELECT
      |    (substr(hx, 1, 8) = '52494646'
      |      AND substr(hx, 17, 8) = '57415645'
      |      AND substr(hx, 25, 8) = '666d7420'
      |      AND substr(hx, 73, 8) = '64617461') AS magic_ok,
      |    ${u16(21)} AS fmt, ${u16(23)} AS ch, ${u32(25)} AS rate,
      |    ${u32(29)} AS byte_rate, ${u16(33)} AS blk, ${u16(35)} AS bits,
      |    ${u32(5)} AS riff_size, ${u32(41)} AS dsize
      |  FROM h),
      |f AS (
      |  SELECT *,
      |    (magic_ok AND fmt = 1
      |      AND byte_rate = rate * ch * bits // 8
      |      AND blk = ch * bits // 8
      |      AND riff_size = dsize + 36) AS ok,
      |    dsize // (ch * 2) AS frames
      |  FROM p)
      |SELECT CAST(rate AS BIGINT) AS sample_rate,
      |  COUNT(*) AS n_files,
      |  CAST(SUM(CASE WHEN ch = 2 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_stereo,
      |  CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
      |  CAST(SUM(frames) AS BIGINT) AS total_frames,
      |  CAST(SUM(frames * 1000000 // rate) AS BIGINT) AS total_dur_us,
      |  CAST(SUM(dsize) AS BIGINT) AS total_data_bytes
      |FROM f GROUP BY rate
      |ORDER BY sample_rate""".stripMargin
  }

  /** L337 RIFF-AVI demux census *(added r18; [PK] Microsoft AVI RIFF
    * file format — public spec)* — puts the REAL video demux
    * ([[graft.multimodal.Multimodal.demuxVideoFrames]], the machinery
    * under q356/q383's siblings) under the oracle hash gate, the r17
    * verdict's second-multimodal-kernel mandate: each document
    * synthesizes a deterministic AVI container in-plan — 3–10 `00dc`
    * frame chunks of 11–30 bytes (odd sizes exercise the even-padding
    * rule), the LAST frame nested in a `LIST('rec ')` (exercises list
    * recursion, the real-AVI grouping form), plus an `idx1` chunk
    * whose interior bytes FAKE a frame header (exercises the
    * plain-chunk skip — a demux that recurses into the index counts a
    * phantom frame) — then the byte-walk demuxes it back and the
    * census (frame count, payload bytes, unsigned byte checksum) is
    * compared against DuckDB computing the same totals from the
    * CONSTRUCTION formulas alone. Any padding, recursion, or size
    * off-by-one in the walk diverges.
    *
    * Parity: every quantity is exact integer arithmetic end-to-end —
    * frame sizes 11 + (7·id + 13·f) mod 20, fill byte (id + 3f) mod
    * 251, checksum Σ psz·fill; the one division (mean frame bytes) is
    * a single 4dp-floored double chain.
    *
    * Scale: container build is pure map-side `transform`/`array_join`
    * column work (no explode, no shuffle); the demux is one
    * mapPartitions pass (the [[graft.multimodal.Multimodal]]
    * justification); the census is one map-side-combinable groupBy
    * over ≤ 8 groups. */
  def q402AviDemuxCensus(s: SparkSession, dir: String): DataFrame = {
    def b(c: Column): Column = lpad(lower(hex(pmod(c, lit(256L)))), 2, "0")
    def le32(c: Column): Column =
      concat(b(c), b(shiftright(c, 8)), b(shiftright(c, 16)),
        b(shiftright(c, 24)))
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("nf", pmod(col("doc_id"), lit(8L)) + 3L)
    def psz(f: Column): Column =
      lit(11L) + pmod(col("doc_id") * 7L + f * 13L, lit(20L))
    def fill(f: Column): Column = pmod(col("doc_id") + f * 3L, lit(251L))
    // one 00dc chunk: fourcc, LE32 size, constant fill, even padding
    def chunk(f: Column): Column = concat(lit("30306463"), le32(psz(f)),
      array_join(array_repeat(b(fill(f)), psz(f).cast("int")), ""),
      when(pmod(psz(f), lit(2L)) === 1L, lit("00")).otherwise(lit("")))
    def chunkLen(f: Column): Column =
      lit(8L) + psz(f) + pmod(psz(f), lit(2L))
    val body = array_join(transform(
      sequence(lit(0L), col("nf") - 1L),
      f => when(f === col("nf") - 1L,
        // last frame nested in LIST('rec ') — the real-AVI grouping
        concat(lit("4c495354"), le32(lit(4L) + chunkLen(f)),
          lit("72656320"), chunk(f)))
        .otherwise(chunk(f))), "")
    val moviSz = lit(4L) +
      aggregate(sequence(lit(0L), col("nf") - 2L), lit(0L),
        (acc, f) => acc + chunkLen(f)) +
      (lit(12L) + chunkLen(col("nf") - 1L))
    // idx1 decoy: 16 interior bytes that LOOK like a 00dc frame header
    val idx1 = concat(lit("69647831"), le32(lit(16L)),
      lit("30306463"), le32(lit(8L)), lit("abababababababab"))
    val riffSz = lit(4L) + (lit(8L) + moviSz) + lit(24L)
    val hx = concat(lit("52494646"), le32(riffSz), lit("41564920"),
      lit("4c495354"), le32(moviSz), lit("6d6f7669"), body, idx1)
    val vids = d.select(col("doc_id"), unhex(hx).as("media"))
    val census = graft.multimodal.Multimodal.demuxCensus(vids, "media")
    census.groupBy(col("n_frames").cast("long").as("n_frames"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        sum(col("payload_bytes")).as("payload_bytes"),
        sum(col("byte_checksum")).as("byte_checksum"))
      .withColumn("avg_frame_bytes",
        Parity.fix(col("payload_bytes").cast("double") /
          col("total_frames").cast("double"), 4))
      .orderBy("n_frames")
  }

  /** Mirror: the demux census recomputed from the construction
    * formulas alone — an INDEPENDENT reference (no byte parsing), so
    * any walk defect (padding, idx1 recursion, size off-by-one) on the
    * Spark side hash-diverges. */
  val q402AviDemuxCensusSql: String =
    """WITH d AS (
      |  SELECT doc_id AS did, doc_id % 8 + 3 AS nf FROM documents),
      |f AS (
      |  SELECT nf,
      |    CAST(list_sum(list_transform(range(nf), f ->
      |      11 + (did * 7 + f * 13) % 20)) AS BIGINT) AS pb,
      |    CAST(list_sum(list_transform(range(nf), f ->
      |      (11 + (did * 7 + f * 13) % 20) * ((did + f * 3) % 251)))
      |      AS BIGINT) AS cs
      |  FROM d)
      |SELECT CAST(nf AS BIGINT) AS n_frames,
      |  COUNT(*) AS n_videos,
      |  CAST(SUM(nf) AS BIGINT) AS total_frames,
      |  CAST(SUM(pb) AS BIGINT) AS payload_bytes,
      |  CAST(SUM(cs) AS BIGINT) AS byte_checksum,
      |  FLOOR(CAST(SUM(pb) AS DOUBLE) / CAST(SUM(nf) AS DOUBLE)
      |    * 1e4 + 0.5) / 1e4 + 0 AS avg_frame_bytes
      |FROM f GROUP BY nf ORDER BY n_frames""".stripMargin

  /** L341 bare-MJPEG demux census *(added r19; [PK] ITU-T T.81 JPEG
    * marker syntax)* — the q402 recipe applied to the OTHER demux
    * layout ([[graft.multimodal.Multimodal.demuxVideoFrames]]'s
    * non-RIFF branch), closing the r18 verdict's mandate: each
    * document synthesizes a deterministic concatenated-JPEG stream
    * in-plan — 2–7 frames, each `FFD8 <fill> FF00 <restart FFD0–D7>
    * <fill> FFD9`, so the scan must honor byte stuffing (the FF00
    * pair is payload, not a marker) and restart markers (FFD0+f%8
    * never terminates a frame); every third document interleaves
    * 5-byte inter-frame junk (resync must skip it), and every
    * 4k+1-th document carries a TRUNCATED trailing `FFD8 <fill>`
    * with no EOI (must be dropped, not looped on, and must not
    * shift earlier boundaries) — then the byte-walk demuxes it back
    * and the census is compared against DuckDB computing the same
    * totals from the CONSTRUCTION formulas alone.
    *
    * Parity: all exact integer arithmetic — frame bytes
    * pa+pb+8, checksum v·(pa+pb) + 1661 + (f mod 8) where 1661 =
    * ΣSOI+stuffed+restart-base+EOI marker bytes; the one division
    * (mean frame bytes) is the q402 4dp-floored double chain.
    *
    * Scale: identical shape to q402 — map-side column work to build,
    * one mapPartitions demux pass, ≤6-group map-side-combinable agg. */
  def q406MjpegDemuxCensus(s: SparkSession, dir: String): DataFrame = {
    def b(c: Column): Column = lpad(lower(hex(pmod(c, lit(256L)))), 2, "0")
    val d = Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("nf", pmod(col("doc_id"), lit(6L)) + 2L)
    def pa(f: Column): Column =
      lit(4L) + pmod(col("doc_id") * 3L + f * 5L, lit(9L))
    def pb(f: Column): Column =
      lit(3L) + pmod(col("doc_id") * 2L + f * 7L, lit(11L))
    // fill byte < 199, so 0xFF can NEVER appear in fill runs — every
    // FF in the stream is one of the deliberate marker sequences
    def v(f: Column): Column = pmod(col("doc_id") + f * 3L, lit(199L))
    def frame(f: Column): Column = concat(
      lit("ffd8"),
      array_join(array_repeat(b(v(f)), pa(f).cast("int")), ""),
      lit("ff00"), // stuffed data byte: FF followed by 00 is payload
      concat(lit("ffd"), pmod(f, lit(8L)).cast("string")), // restart
      array_join(array_repeat(b(v(f)), pb(f).cast("int")), ""),
      lit("ffd9"))
    // inter-frame junk ('AAAAA'): no FF bytes, the scanner must skip
    // it while resyncing on the next SOI (appended after EVERY frame,
    // incl. the last — trailing junk has no SOI, so it is inert)
    val gap = when(pmod(col("doc_id"), lit(3L)) === 0L,
      lit("4141414141")).otherwise(lit(""))
    val body = array_join(transform(
      sequence(lit(0L), col("nf") - 1L), f => concat(frame(f), gap)), "")
    // truncated trailing frame: SOI + fill, no EOI → must be dropped
    val tail = when(pmod(col("doc_id"), lit(4L)) === 1L,
      concat(lit("ffd8"), array_join(array_repeat(
        b(pmod(col("doc_id") * 11L + 7L, lit(199L))), 6), "")))
      .otherwise(lit(""))
    val vids = d.select(col("doc_id"), unhex(concat(body, tail)).as("media"))
    val census = graft.multimodal.Multimodal.demuxCensus(vids, "media")
    census.groupBy(col("n_frames").cast("long").as("n_frames"))
      .agg(count(lit(1)).as("n_videos"),
        sum(col("n_frames").cast("long")).as("total_frames"),
        sum(col("payload_bytes")).as("payload_bytes"),
        sum(col("byte_checksum")).as("byte_checksum"))
      .withColumn("avg_frame_bytes",
        Parity.fix(col("payload_bytes").cast("double") /
          col("total_frames").cast("double"), 4))
      .orderBy("n_frames")
  }

  /** Mirror: the MJPEG census recomputed from the construction
    * formulas alone — an INDEPENDENT reference (no byte parsing), so
    * any stuffing/restart/resync/truncation defect in the Spark-side
    * scan hash-diverges. */
  val q406MjpegDemuxCensusSql: String =
    """WITH d AS (
      |  SELECT doc_id AS did, doc_id % 6 + 2 AS nf FROM documents),
      |f AS (
      |  SELECT nf,
      |    CAST(list_sum(list_transform(range(nf), f ->
      |      (4 + (did * 3 + f * 5) % 9) + (3 + (did * 2 + f * 7) % 11)
      |        + 8)) AS BIGINT) AS pb,
      |    CAST(list_sum(list_transform(range(nf), f ->
      |      ((did + f * 3) % 199) *
      |        ((4 + (did * 3 + f * 5) % 9) + (3 + (did * 2 + f * 7) % 11))
      |      + 1661 + (f % 8))) AS BIGINT) AS cs
      |  FROM d)
      |SELECT CAST(nf AS BIGINT) AS n_frames,
      |  COUNT(*) AS n_videos,
      |  CAST(SUM(nf) AS BIGINT) AS total_frames,
      |  CAST(SUM(pb) AS BIGINT) AS payload_bytes,
      |  CAST(SUM(cs) AS BIGINT) AS byte_checksum,
      |  FLOOR(CAST(SUM(pb) AS DOUBLE) / CAST(SUM(nf) AS DOUBLE)
      |    * 1e4 + 0.5) / 1e4 + 0 AS avg_frame_bytes
      |FROM f GROUP BY nf ORDER BY n_frames""".stripMargin
}
