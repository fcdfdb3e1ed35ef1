package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scored-prediction evaluation and calibration operators, split out
  * of [[DriftQueries]] in round 16 (the file had crossed the repo's
  * ~2,000-line seam threshold): exact ROC AUC, Cohen's kappa, Poisson
  * bootstrap CIs, the reliability/calibration table, empirical-Bayes
  * rate shrinkage, Brier score with Murphy decomposition, and the
  * Spiegelhalter calibration Z. All collapse to score/label censuses
  * before any window (the q147 discipline).
  */
object ScoreEvalQueries {

  /** The calibration histogram of the toy length classifier: documents
    * by length `sc` (`n_chars`), with the document count `n`, the src0
    * count `pos`, and on every row the smallest and largest length
    * `mn`/`mx` from windows over the ≤|lengths|-row census, not a 1-row
    * join (q197, q276, q342, q381). [[lengthHistogramSql]] is its oracle
    * twin; the two change together. */
  private[ops] def lengthHistogram(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    Tables.documents(s, dir)
      .groupBy(col("n_chars").as("sc"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("source") === "src0", 1L).otherwise(0L)).as("pos"))
      .withColumn("mn", min(col("sc")).over(wAll))
      .withColumn("mx", max(col("sc")).over(wAll))
  }

  /** The CTEs `h` (the census) and `b` (with `mn`, `mx`), the oracle
    * twin of [[lengthHistogram]]; the two change together. */
  private[ops] val lengthHistogramSql: String =
    """h AS (
      |  SELECT n_chars AS sc, COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS pos
      |  FROM documents GROUP BY n_chars),
      |b AS (
      |  SELECT sc, n, pos,
      |    CAST(MIN(sc) OVER () AS BIGINT) AS mn,
      |    CAST(MAX(sc) OVER () AS BIGINT) AS mx
      |  FROM h)""".stripMargin

  /** The classifier's prediction p̂ = (sc − mn)/(mx − mn) on a
    * [[lengthHistogram]] row, 0 when every length is equal;
    * [[pHatSql]] is its oracle twin. */
  private val pHat: Column = when(col("mx") - col("mn") > 0L,
    (col("sc") - col("mn")).cast("double") / (col("mx") - col("mn")).cast("double"))
    .otherwise(lit(0.0))

  private val pHatSql: String =
    "CASE WHEN mx - mn > 0" +
      " THEN CAST(sc - mn AS DOUBLE) / CAST(mx - mn AS DOUBLE)" +
      " ELSE 0.0 END"

  /** L119 exact ROC AUC via the Mann–Whitney rank statistic: how well
    * does n_chars separate the q179 focus source from the rest? AUC =
    * P(score_pos > score_neg) + ½P(=) — the threshold-free evaluation
    * every quality-classifier pipeline reports, computed EXACTLY with
    * tie handling (no trapezoid approximation): over distinct scores,
    * numerator·2 = Σ 2·p_s·(negs strictly below s) + p_s·q_s, an exact
    * int64; AUC is one final division by 2·n_pos·n_neg, rounded 6dp.
    *
    * Scale: the q147 KS shape — a distinct-score census (map-side
    * combinable, rows bounded by the VALUE DOMAIN, not the corpus)
    * then [[PrefixSum]]'s distributed running sum over it and a single
    * global aggregate; the corpus is never globally sorted or ranked. */
  def q181Auc(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("n_chars").as("sc"),
      (col("source") === "src0").as("pos"))
    val h = d.groupBy("sc")
      .agg(count(when(col("pos"), 1)).as("p"),
        count(when(!col("pos"), 1)).as("q"))
    val c = PrefixSum.withPrefixSums(h, Seq(col("sc")),
      Seq((col("q"), "cumq")))
    c.agg(sum(col("p")).as("n_pos"), sum(col("q")).as("n_neg"),
        sum(col("p") * (col("cumq") - col("q")) * lit(2L) +
          col("p") * col("q")).as("num2"))
      .select(col("n_pos"), col("n_neg"), col("num2"),
        round(col("num2").cast("double") /
          (col("n_pos") * col("n_neg") * lit(2L)).cast("double"), 6).as("auc"))
  }

  val q181AucSql: String =
    """WITH d AS (
      |  SELECT n_chars AS sc, source = 'src0' AS pos FROM documents),
      |h AS (
      |  SELECT sc, COUNT(*) FILTER (WHERE pos) AS p,
      |    COUNT(*) FILTER (WHERE NOT pos) AS q
      |  FROM d GROUP BY sc),
      |c AS (
      |  SELECT sc, p, q,
      |    SUM(q) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumq
      |  FROM h)
      |SELECT CAST(SUM(p) AS BIGINT) AS n_pos,
      |  CAST(SUM(q) AS BIGINT) AS n_neg,
      |  CAST(SUM(p * (cumq - q) * 2 + p * q) AS BIGINT) AS num2,
      |  ROUND(CAST(SUM(p * (cumq - q) * 2 + p * q) AS DOUBLE)
      |    / CAST(SUM(p) * SUM(q) * 2 AS DOUBLE), 6) AS auc
      |FROM c""".stripMargin

  /** L121 Cohen's kappa: chance-corrected agreement between two
    * independent quality raters — here the q162 Gopher mean-word-length
    * rule vs the stopword-absence rule — the inter-annotator statistic
    * a labeling pipeline reports before trusting auto-labels (raw
    * percent agreement is inflated when both raters mostly say "keep").
    * κ = (n·(n₁₁+n₀₀) − pe_num)/(n² − pe_num) with pe_num = r₁c₁+r₀c₀
    * — every term an exact int64 product from the 2×2 confusion
    * census; one final division, 6dp.
    *
    * Scale: two codegen'd boolean columns, one map-side-combinable
    * 4-counter aggregate, one output row — no shuffle beyond the
    * single partial/final exchange. */
  def q183Kappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val nw = (length(col("text")) -
      length(regexp_replace(col("text"), " ", "")) + 1).cast("long")
    val sumLen = length(regexp_replace(col("text"), " ", "")).cast("long")
    val ra = (sumLen * 10 < nw * 42 || sumLen * 10 > nw * 48)
    val rb = !arrays_overlap(split(col("text"), " "),
      array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to")))
    val cts = d.select(ra.as("ra"), rb.as("rb"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("ra") && col("rb"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("ra") && !col("rb"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("ra") && col("rb"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("ra") && !col("rb"), 1L).otherwise(0L)).as("n00"))
    val r1 = col("n11") + col("n10")
    val c1 = col("n11") + col("n01")
    val peNum = r1 * c1 + (col("n") - r1) * (col("n") - c1)
    cts.select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
      round((col("n") * (col("n11") + col("n00")) - peNum).cast("double") /
        (col("n") * col("n") - peNum).cast("double"), 6).as("kappa"))
  }

  val q183KappaSql: String =
    """WITH f AS (
      |  SELECT
      |    length(replace(text, ' ', '')) * 10
      |        < (length(text) - length(replace(text, ' ', '')) + 1) * 42
      |      OR length(replace(text, ' ', '')) * 10
      |        > (length(text) - length(replace(text, ' ', '')) + 1) * 48 AS ra,
      |    len(list_intersect(string_split(text, ' '),
      |      ['the', 'a', 'of', 'and', 'to'])) = 0 AS rb
      |  FROM documents),
      |cts AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CASE WHEN ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n11,
      |    CAST(SUM(CASE WHEN ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT) AS n10,
      |    CAST(SUM(CASE WHEN NOT ra AND rb THEN 1 ELSE 0 END) AS BIGINT) AS n01,
      |    CAST(SUM(CASE WHEN NOT ra AND NOT rb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n00
      |  FROM f)
      |SELECT n, n11, n10, n01, n00,
      |  ROUND(CAST(n * (n11 + n00)
      |      - ((n11 + n10) * (n11 + n01) + (n - n11 - n10) * (n - n11 - n01))
      |      AS DOUBLE)
      |    / CAST(n * n
      |      - ((n11 + n10) * (n11 + n01) + (n - n11 - n10) * (n - n11 - n01))
      |      AS DOUBLE), 6) AS kappa
      |FROM cts""".stripMargin

  /** L122 distributed Poisson bootstrap: a 95 % percentile confidence
    * interval for mean n_chars from B = 200 resamples — THE resampling
    * scheme that works at fact scale (Efron's classic bootstrap needs a
    * global sample per replicate; the Poisson approximation gives every
    * row an independent Poisson(1) replication count, so each replicate
    * is one map-side-combinable weighted aggregate — Chamandy et al.'s
    * streaming-scale estimator). Deterministic by construction: the
    * replication count comes from the q127 LCG hash of (doc_id, b)
    * against exact integer CDF thresholds ⌊P·CDF_Pois(1)(k)⌋, so both
    * engines draw literally the same resamples — no RNG state anywhere.
    *
    * Parity: each replicate mean is ONE int64/int64 division (exact
    * IEEE bits), so the rank ordering of the 200 means and the rank-5 /
    * rank-196 percentile picks are engine-independent; the point mean
    * rides an in-plan 1-row moment broadcast (q242 form, r13).
    *
    * Scale: corpus × B rows exist only between the generate and the
    * partial agg in the same stage — the shuffle carries ≤ B·tasks
    * partial rows into B groups; the rank window sees exactly B rows. */
  def q184Bootstrap(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    // point-estimate moments in-plan (r13, closing the .head() sweep):
    // a 1-row broadcast onto the 1-row CI aggregate (q242 form); one
    // map-side-combinable scan, same as the old driver fetch, minus
    // the build-time action
    val tot = d.agg(sum("n_chars").as("sx"), count(lit(1)).as("n"))
    val reps = d.select(col("doc_id"), col("n_chars"),
      explode(expr("sequence(0L, 199L)")).as("b"))
    val h = pmod(col("doc_id") * lit(1103515245L) +
      col("b") * lit(2654435761L) + lit(12345L), lit(1000000007L))
    val w = when(h < 367879443L, 0L).when(h < 735758887L, 1L)
      .when(h < 919698609L, 2L).when(h < 981011849L, 3L)
      .when(h < 996340160L, 4L).when(h < 999405822L, 5L)
      .when(h < 999916765L, 6L).otherwise(7L)
    val repMeans = reps.withColumn("w", w)
      .groupBy("b")
      .agg(sum(col("w") * col("n_chars")).as("swx"), sum(col("w")).as("sw"))
      .select(col("b"),
        (col("swx").cast("double") / col("sw").cast("double")).as("m"))
    val ranked = repMeans.withColumn("rn",
      row_number().over(Window.orderBy(col("m"), col("b"))))
    ranked.agg(
        round(min(when(col("rn") === 5, col("m"))), 6).as("ci_lo"),
        round(min(when(col("rn") === 196, col("m"))), 6).as("ci_hi"))
      .crossJoin(broadcast(tot))
      .select(col("n").as("n_docs"), lit(200).as("n_reps"),
        round(col("sx").cast("double") / col("n").cast("double"), 6)
          .as("mean"),
        col("ci_lo"), col("ci_hi"))
  }

  val q184BootstrapSql: String =
    """WITH reps AS (
      |  SELECT b.b, d.n_chars,
      |    ((d.doc_id * 1103515245 + b.b * 2654435761 + 12345)
      |      % 1000000007 + 1000000007) % 1000000007 AS h
      |  FROM documents d
      |  CROSS JOIN (SELECT unnest(range(0, 200)) AS b) b),
      |w AS (
      |  SELECT b, n_chars,
      |    CASE WHEN h < 367879443 THEN 0 WHEN h < 735758887 THEN 1
      |         WHEN h < 919698609 THEN 2 WHEN h < 981011849 THEN 3
      |         WHEN h < 996340160 THEN 4 WHEN h < 999405822 THEN 5
      |         WHEN h < 999916765 THEN 6 ELSE 7 END AS w
      |  FROM reps),
      |rm AS (
      |  SELECT b, CAST(SUM(w * n_chars) AS DOUBLE)
      |    / CAST(SUM(w) AS DOUBLE) AS m
      |  FROM w GROUP BY b),
      |r AS (SELECT b, m, ROW_NUMBER() OVER (ORDER BY m, b) AS rn FROM rm),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS s
      |        FROM documents)
      |SELECT tot.n AS n_docs, 200 AS n_reps,
      |  ROUND(CAST(tot.s AS DOUBLE) / tot.n, 6) AS mean,
      |  ROUND(MIN(CASE WHEN rn = 5 THEN m END), 6) AS ci_lo,
      |  ROUND(MIN(CASE WHEN rn = 196 THEN m END), 6) AS ci_hi
      |FROM r, tot GROUP BY tot.n, tot.s""".stripMargin

  /** L135 calibration / reliability table — the eval readout AUC
    * (q181) deliberately ignores: AUC scores RANKING, calibration asks
    * whether predicted probabilities MEAN what they say. Toy length
    * classifier for src0 membership: p̂ = (n_chars−min)/(max−min),
    * binned into 10 equal-width probability bins; per bin the mean
    * prediction, observed src0 rate, their absolute gap, and the bin's
    * weight — the table ECE = Σ (n_b/N)·|gap| summarizes (pinned
    * brute-force in RankStatSpec).
    *
    * Parity: bin assignment is an exact INT decision
    * ((sc−mn)·10 div (mx−mn+1), the q88 bounds discipline) so a 1-ulp
    * divergence can never flip a row's bin; p̂ is nano-quantized per
    * distinct length and summed as int64; every per-bin output is one
    * fixed int→double chain. Bounds ride a window over the
    * distinct-length census (≤ |lengths| rows), not a one-row join.
    *
    * Scale: one map-side-combinable length census, a tiny unpartitioned
    * window over it, a ≤10-group agg. */
  def q197Calibration(s: SparkSession, dir: String): DataFrame = {
    val bin = expr("(sc - mn) * 10 div (mx - mn + 1)")
    lengthHistogram(s, dir)
      .select(bin.as("bin"), col("n"), col("pos"),
        (col("n") * Parity.quant(pHat, 1e9))
          .as("pq"))
      .groupBy("bin")
      .agg(sum("n").as("n_docs"), sum("pos").as("n_pos"),
        sum("pq").as("spq"))
      .select(col("bin"), col("n_docs"), col("n_pos"),
        ((col("spq").cast("double") / lit(1.0e9)) /
          col("n_docs").cast("double")).as("avg_pred"),
        (col("n_pos").cast("double") / col("n_docs").cast("double"))
          .as("obs_rate"),
        abs((col("spq").cast("double") / lit(1.0e9)) /
          col("n_docs").cast("double") -
          col("n_pos").cast("double") / col("n_docs").cast("double"))
          .as("abs_gap"))
      .orderBy("bin")
  }

  val q197CalibrationSql: String =
    s"""WITH $lengthHistogramSql,
      |q AS (
      |  SELECT (sc - mn) * 10 // (mx - mn + 1) AS bin, n, pos,
      |    n * ${Parity.quantSql(pHatSql, 9)}
      |        AS pq
      |  FROM b),
      |a AS (
      |  SELECT bin, CAST(SUM(n) AS BIGINT) AS n_docs,
      |    CAST(SUM(pos) AS BIGINT) AS n_pos,
      |    CAST(SUM(pq) AS BIGINT) AS spq
      |  FROM q GROUP BY bin)
      |SELECT bin, n_docs, n_pos,
      |  (CAST(spq AS DOUBLE) / 1e9) / CAST(n_docs AS DOUBLE) AS avg_pred,
      |  CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE) AS obs_rate,
      |  abs((CAST(spq AS DOUBLE) / 1e9) / CAST(n_docs AS DOUBLE)
      |    - CAST(n_pos AS DOUBLE) / CAST(n_docs AS DOUBLE)) AS abs_gap
      |FROM a ORDER BY bin""".stripMargin

  /** L203 empirical-Bayes beta-binomial shrinkage (Robbins 1956;
    * Robinson's MoM recipe [PK]) of per-part return rates: fit a
    * Beta(α, β) prior to the observed k/n return fractions by method
    * of moments over parts with n ≥ 5, then report each part's raw
    * rate beside its shrunken posterior mean (k+α)/(n+α+β). THE
    * small-sample ranking fix for rate leaderboards — a 1/1 part no
    * longer beats a 40/50 one — and the estimator behind every
    * "quality score with a prior" curation rule; the Bayesian sibling
    * of q133's Wilson bound (Wilson widens intervals; EB moves the
    * point estimate).
    *
    * Parity: per-part rates quantize to nano int64 BEFORE the moment
    * sums (distributed double summation would be order-dependent);
    * mean/variance ride exact DECIMAL sums; α/β/posterior one double
    * chain 6dp. Top-15 by |shrinkage| with a total order.
    *
    * Scale: one lineitem hash agg to parts, one 1-row moment agg
    * broadcast back (allowlisted 1-row BNLJ). Guards: MoM variance 0
    * (or below binomial noise ⇒ α,β ≤ 0) nulls the shrunken column —
    * the raw column always survives. */
  def q261EbShrinkage(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n"),
        sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("k"))
    val rq = Parity.quant(col("k").cast("double") / col("n"), 1e9)
    val withR = li.withColumn("rq", rq)
    val mom = withR.filter(col("n") >= 5)
      .agg(count(lit(1)).as("g"), sum(col("rq").cast(dec)).as("sr"),
        sum(col("rq").cast(dec) * col("rq").cast(dec)).as("qr"))
    val gD = col("g").cast("double")
    val m1 = col("sr").cast("double") / gD / 1e9
    val m2 = (col("qr").cast("double") -
      col("sr").cast("double") * (col("sr").cast("double") / gD)) /
      (gD - 1.0) / 1e18
    val common = m1 * (lit(1.0) - m1) / m2 - 1.0
    val alpha = m1 * common
    val beta = (lit(1.0) - m1) * common
    val bad = col("g") < 2 || m2 <= 0.0 || alpha <= 0.0 || beta <= 0.0
    val j = withR.crossJoin(broadcast(mom))
    val raw = col("k").cast("double") / col("n")
    val post = (col("k") + alpha) / (col("n") + alpha + beta)
    j.select(col("l_partkey"), col("n"), col("k"),
        (round(raw, 4) + 0.0).as("raw_rate"),
        when(bad, lit(null).cast("double"))
          .otherwise(round(post, 4) + 0.0).as("eb_rate"),
        // r16: publish the MoM prior mean beside the shrunk rate so the
        // estimator-honesty panel can assert eb lies between raw and
        // prior from the output alone (the q346 estimate-beside-truth
        // discipline, retro-applied). floor-form, not round(): m1 =
        // sr/g/1e9 is a rational whose denominator can be 2·5-smooth
        // (g is the part census), so it can land EXACTLY on .xxxx5
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.fix(m1, 4)).as("prior_rate"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.fix(abs(post - raw), 9))
          .as("shrinkage"))
      .orderBy(col("shrinkage").desc_nulls_last, col("l_partkey"))
      .limit(15)
  }

  val q261EbShrinkageSql: String = {
    val m1 = "(CAST(sr AS DOUBLE) / CAST(g AS DOUBLE) / 1e9)"
    val m2 = "((CAST(qr AS DOUBLE) - CAST(sr AS DOUBLE)" +
      " * (CAST(sr AS DOUBLE) / CAST(g AS DOUBLE)))" +
      " / (CAST(g AS DOUBLE) - 1.0) / 1e18)"
    val common = s"($m1 * (1.0 - $m1) / $m2 - 1.0)"
    val alpha = s"($m1 * $common)"
    val beta = s"((1.0 - $m1) * $common)"
    val bad = s"(g < 2 OR $m2 <= 0.0 OR $alpha <= 0.0 OR $beta <= 0.0)"
    val post = s"((k + $alpha) / (n + $alpha + $beta))"
    s"""WITH li AS (
       |  SELECT l_partkey, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
       |      AS BIGINT) AS k
       |  FROM lineitem GROUP BY l_partkey),
       |wr AS (
       |  SELECT *, ${Parity.quantSql("CAST(k AS DOUBLE) / n", 9)} AS rq
       |  FROM li),
       |mom AS (
       |  SELECT COUNT(*) AS g, SUM(CAST(rq AS HUGEINT)) AS sr,
       |    SUM(CAST(rq AS HUGEINT) * rq) AS qr
       |  FROM wr WHERE n >= 5)
       |SELECT l_partkey, n, k,
       |  ROUND(CAST(k AS DOUBLE) / n, 4) + 0 AS raw_rate,
       |  CASE WHEN $bad THEN NULL
       |    ELSE ROUND($post, 4) + 0 END AS eb_rate,
       |  CASE WHEN $bad THEN NULL
       |    ELSE ${Parity.fixSql(m1, 4)} + 0 END AS prior_rate,
       |  CASE WHEN $bad THEN NULL
       |    ELSE ${Parity.fixSql(s"ABS($post - CAST(k AS DOUBLE) / n)", 9)}
       |    END AS shrinkage
       |FROM wr, mom
       |ORDER BY shrinkage DESC NULLS LAST, l_partkey LIMIT 15""".stripMargin
  }

  /** L208 Brier score + Murphy decomposition ([PK] Brier 1950; Murphy
    * 1973): the PROPER score behind q197's calibration table — B =
    * (1/N)Σ(p̂−y)² split into reliability (Σn_k(p̄_k−ō_k)²/N — how far
    * each forecast bin sits from its observed rate; q197's abs_gap,
    * squared and mass-weighted), resolution (Σn_k(ō_k−ō)²/N — how much
    * the bins separate outcomes; the part a useful classifier EARNS),
    * and uncertainty ō(1−ō) (the data's irreducible floor). The
    * residual B − (REL − RES + UNC) is the within-bin variance term
    * (forecasts vary inside a bin), reported rather than hidden so the
    * identity is auditable.
    *
    * Parity: same length-derived forecast as q197 (nano-quantized long
    * per distinct n_chars); the raw-Brier sum expands to
    * pos·(pq−10⁹)² + (n−pos)·pq² — exact DECIMAL(38,0)/HUGEINT in
    * 10⁻¹⁸ units; per-bin REL/RES terms are pico-quantized (1e12)
    * int64 so the ≤10-bin sums are order-free; ō rides a whole-frame
    * window over the bin census (the q146 pattern, no second scan).
    *
    * Scale: the q197 shape end-to-end — value-domain census, ≤10-bin
    * table, 1-row algebra. Guards: an empty period or single-value
    * span degenerates to bin 0 with zero reliability — still defined. */
  def q276BrierMurphy(s: SparkSession, dir: String): DataFrame = {
    val wAll = Window.partitionBy()
    val q = lengthHistogram(s, dir).select(
      expr("(sc - mn) * 10 div (mx - mn + 1)").as("bin"),
      col("n"), col("pos"),
      Parity.quant(pHat, 1e9).as("pq"))
    // raw Brier in 1e-18 units: Σ pos·(pq−1e9)² + (n−pos)·pq²
    val bnum = (col("pos").cast(dec) *
        ((col("pq") - lit(1000000000L)).cast(dec) *
          (col("pq") - lit(1000000000L)).cast(dec))) +
      ((col("n") - col("pos")).cast(dec) *
        (col("pq").cast(dec) * col("pq").cast(dec)))
    val bins = q.withColumn("bn", bnum)
      .groupBy("bin")
      .agg(sum("n").as("nk"), sum("pos").as("pk"),
        sum(col("n").cast(dec) * col("pq").cast(dec)).as("spq"),
        sum(col("bn")).as("bnk"))
    val wholeN = sum(col("nk")).over(wAll)
    val wholeP = sum(col("pk")).over(wAll)
    val pbar = col("spq").cast("double") / 1e9 / col("nk").cast("double")
    val obar = col("pk").cast("double") / col("nk").cast("double")
    val obarAll = col("np").cast("double") / col("nn").cast("double")
    val terms = bins
      .withColumn("nn", wholeN).withColumn("np", wholeP)
      .select(col("nn"), col("np"), col("bnk"),
        Parity.quant(col("nk").cast("double") * (pbar - obar) * (pbar - obar),
          1e12).as("relq"),
        Parity.quant(col("nk").cast("double") * (obar - obarAll) *
          (obar - obarAll), 1e12).as("resq"))
    val g = terms.groupBy("nn", "np")
      .agg(sum(col("bnk")).as("bsum"),
        sum(col("relq")).as("rels"), sum(col("resq")).as("ress"))
    val nD = col("nn").cast("double")
    val brier = col("bsum").cast("double") / 1e18 / nD
    val rel = col("rels").cast("double") / 1e12 / nD
    val res = col("ress").cast("double") / 1e12 / nD
    val unc = (col("np").cast("double") / nD) *
      (lit(1.0) - col("np").cast("double") / nD)
    g.select(col("nn").as("n_docs"),
      (round(brier, 6) + 0.0).as("brier"),
      (round(rel, 6) + 0.0).as("reliability"),
      (round(res, 6) + 0.0).as("resolution"),
      (round(unc, 6) + 0.0).as("uncertainty"),
      (round(brier - (rel - res + unc), 6) + 0.0).as("within_resid"))
  }

  val q276BrierMurphySql: String =
    s"""WITH $lengthHistogramSql,
      |q AS (
      |  SELECT (sc - mn) * 10 // (mx - mn + 1) AS bin, n, pos,
      |    ${Parity.quantSql(pHatSql, 9)}
      |        AS pq
      |  FROM b),
      |bins AS (
      |  SELECT bin, CAST(SUM(n) AS BIGINT) AS nk,
      |    CAST(SUM(pos) AS BIGINT) AS pk,
      |    SUM(CAST(n AS HUGEINT) * pq) AS spq,
      |    SUM(CAST(pos AS HUGEINT)
      |          * ((pq - 1000000000) * CAST(pq - 1000000000 AS HUGEINT))
      |        + CAST(n - pos AS HUGEINT) * (CAST(pq AS HUGEINT) * pq))
      |      AS bnk
      |  FROM q GROUP BY bin),
      |t AS (
      |  SELECT bnk,
      |    CAST(SUM(nk) OVER () AS BIGINT) AS nn,
      |    CAST(SUM(pk) OVER () AS BIGINT) AS np,
      |    ${Parity.quantSql("CAST(nk AS DOUBLE)" +
                             " * (CAST(spq AS DOUBLE) / 1e9 / nk - CAST(pk AS DOUBLE) / nk)" +
                             " * (CAST(spq AS DOUBLE) / 1e9 / nk - CAST(pk AS DOUBLE) / nk)", 12)}
      |      AS relq,
      |    ${Parity.quantSql("CAST(nk AS DOUBLE)" +
                             " * (CAST(pk AS DOUBLE) / nk" +
                             " - CAST(SUM(pk) OVER () AS DOUBLE) / SUM(nk) OVER ())" +
                             " * (CAST(pk AS DOUBLE) / nk" +
                             " - CAST(SUM(pk) OVER () AS DOUBLE) / SUM(nk) OVER ())", 12)}
      |      AS resq
      |  FROM bins),
      |g AS (
      |  SELECT nn, np, SUM(bnk) AS bsum,
      |    CAST(SUM(relq) AS BIGINT) AS rels,
      |    CAST(SUM(resq) AS BIGINT) AS ress
      |  FROM t GROUP BY nn, np)
      |SELECT nn AS n_docs,
      |  ROUND(CAST(bsum AS DOUBLE) / 1e18 / nn, 6) + 0 AS brier,
      |  ROUND(CAST(rels AS DOUBLE) / 1e12 / nn, 6) + 0 AS reliability,
      |  ROUND(CAST(ress AS DOUBLE) / 1e12 / nn, 6) + 0 AS resolution,
      |  ROUND((CAST(np AS DOUBLE) / nn) * (1.0 - CAST(np AS DOUBLE) / nn),
      |    6) + 0 AS uncertainty,
      |  ROUND(CAST(bsum AS DOUBLE) / 1e18 / nn
      |    - (CAST(rels AS DOUBLE) / 1e12 / nn
      |       - CAST(ress AS DOUBLE) / 1e12 / nn
      |       + (CAST(np AS DOUBLE) / nn)
      |         * (1.0 - CAST(np AS DOUBLE) / nn)), 6) + 0 AS within_resid
      |FROM g""".stripMargin

  /** L276 Spiegelhalter's calibration Z ([PK] Spiegelhalter 1986): the
    * single-number companion to q197's reliability TABLE —
    * Z = Σ(y−p̂)(1−2p̂) / √Σ(1−2p̂)²p̂(1−p̂) over the same toy length
    * classifier (p̂ = (n_chars−min)/(max−min), target = src0
    * membership). Unlike ECE it needs no binning, penalizes over- AND
    * under-confidence symmetrically, and carries a proper null
    * (N(0,1) when p̂ is calibrated) — the significance readout the
    * table can't give.
    *
    * Parity: p̂ is nano-quantized per distinct length FIRST (the q197
    * canonical value — both engines' doubles start from the same
    * integer); each length's numerator/denominator term is one double
    * chain nano-quantized before the int64 sum (q185 discipline); Z
    * is one final double chain, 6dp.
    *
    * Scale: the q197 plan — one map-side length census, a tiny
    * unpartitioned window over ≤|lengths| rows, one sum agg. */
  def q342SpiegelhalterZ(s: SparkSession, dir: String): DataFrame = {
    val p = Parity.fix(pHat, 9)
    val oneM2p = lit(1.0) - lit(2.0) * p
    val num = oneM2p * (col("pos").cast("double") -
      col("n").cast("double") * p)
    val den = col("n").cast("double") * (oneM2p * oneM2p) * p *
      (lit(1.0) - p)
    val m = lengthHistogram(s, dir)
      .select(col("n"),
        Parity.quant(num, 1e9).as("t9"),
        Parity.quant(den, 1e9).as("d9"))
      .agg(sum(col("n")).as("nd"), count(lit(1)).as("nl"),
        sum(col("t9")).as("st9"), sum(col("d9")).as("sd9"))
    def f(c: String) = col(c).cast("double")
    val z = (f("st9") / 1.0e9) / sqrt(f("sd9") / 1.0e9)
    val bad = col("sd9") <= 0L
    m.select(col("nd").cast("long").as("n_docs"),
      col("nl").cast("long").as("n_lengths"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(z, 6)).as("z"),
      when(bad, lit(null).cast("long"))
        .otherwise((abs(z) > 1.96).cast("long")).as("reject_5pct"))
  }

  val q342SpiegelhalterZSql: String =
    s"""WITH $lengthHistogramSql,
      |q AS (
      |  SELECT n, pos,
      |    ${Parity.quantSql(pHatSql, 9)}
      |        / 1e9 AS p
      |  FROM b),
      |t AS (
      |  SELECT n,
      |    ${Parity.quantSql("(1.0 - 2.0 * p) * (CAST(pos AS DOUBLE)" +
                             " - CAST(n AS DOUBLE) * p)", 9)}
      |      AS t9,
      |    ${Parity.quantSql("CAST(n AS DOUBLE) * ((1.0 - 2.0 * p)" +
                             " * (1.0 - 2.0 * p)) * p * (1.0 - p)", 9)}
      |      AS d9
      |  FROM q),
      |m AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nd, COUNT(*) AS nl,
      |    CAST(SUM(t9) AS BIGINT) AS st9,
      |    CAST(SUM(d9) AS BIGINT) AS sd9
      |  FROM t)
      |SELECT nd AS n_docs, CAST(nl AS BIGINT) AS n_lengths,
      |  CASE WHEN sd9 <= 0 THEN NULL
      |    ELSE ${Parity.fixSql("(CAST(st9 AS DOUBLE) / 1e9)" +
                                " / SQRT(CAST(sd9 AS DOUBLE) / 1e9)", 6)}
      |      + 0
      |    END AS z,
      |  CASE WHEN sd9 <= 0 THEN NULL
      |    ELSE CAST(CASE WHEN ABS((CAST(st9 AS DOUBLE) / 1e9)
      |      / SQRT(CAST(sd9 AS DOUBLE) / 1e9)) > 1.96
      |      THEN 1 ELSE 0 END AS BIGINT) END AS reject_5pct
      |FROM m""".stripMargin

  /** L316 Hosmer–Lemeshow calibration test ([PK] Hosmer & Lemeshow
    * 1980): the TEST companion to q197's reliability table and q342's
    * Spiegelhalter Z — group predictions into deciles of risk and
    * compare observed vs expected positives: Ĉ = Σ_g (O_g − E_g)² /
    * (n_g·p̄_g(1−p̄_g)), χ²(8) under calibration. Run on the q197 toy
    * length classifier, which is genuinely MIScalibrated — the test
    * must fire (Ĉ ≈ 1,180/1,072 vs the 15.507 critical value,
    * asserted in the spec).
    *
    * Parity: deciles come from exact cumulative doc counts over the
    * distinct-length census ((cum_before·10) div N — ties share a
    * decile, the deterministic convention); E_g accumulates
    * nano-quantized p̂ as int64 (the q197 discipline); each decile's
    * χ² term is one double chain PICO-quantized before the final sum
    * (seed-122 convention); 4dp.
    *
    * Scale: one length census, one tiny window over it, a ≤10-group
    * agg. 1 row. */
  def q381HosmerLemeshow(s: SparkSession, dir: String): DataFrame = {
    val wCum = Window.orderBy("sc")
      .rowsBetween(Window.unboundedPreceding, -1)
    val withB = lengthHistogram(s, dir)
      .withColumn("nt", sum(col("n")).over(Window.partitionBy()))
      .withColumn("cumb", coalesce(sum(col("n")).over(wCum), lit(0L)))
    val g = withB
      .select(expr("(cumb * 10) div nt").as("dec"), col("n"), col("pos"),
        (col("n") * Parity.quant(pHat, 1e9)).as("pq"),
        col("nt"))
      .groupBy("dec")
      .agg(sum(col("n")).as("ng"), sum(col("pos")).as("og"),
        sum(col("pq")).as("eg9"), max(col("nt")).as("nt"))
    val eg = col("eg9").cast("double") / 1e9
    val pbar = eg / col("ng").cast("double")
    val termOk = col("eg9") > 0L && col("eg9") < col("ng") * 1000000000L
    val term12 = when(termOk,
      Parity.quant((col("og").cast("double") - eg) *
        (col("og").cast("double") - eg) /
        (col("ng").cast("double") * pbar * (lit(1.0) - pbar)), 1e12))
      .otherwise(lit(0L))
    val m = g.withColumn("t12", term12)
      .agg(max(col("nt")).as("n_docs"), count(lit(1)).as("n_groups"),
        sum(col("t12")).as("s12"))
    val hl = col("s12").cast("double") / 1e12
    val bad = col("n_groups") < 5L
    m.select(col("n_docs"), col("n_groups"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(hl, 4))
        .as("hl_stat"),
      (col("n_groups") - 2L).as("df"),
      when(bad, lit(null).cast("long"))
        .otherwise((Parity.fix(hl, 4) > 15.507).cast("long")).as("reject_5pct"))
  }

  val q381HosmerLemeshowSql: String =
    s"""WITH $lengthHistogramSql,
      |bt AS (
      |  SELECT *, CAST(SUM(n) OVER () AS BIGINT) AS nt,
      |    CAST(COALESCE(SUM(n) OVER (ORDER BY sc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS BIGINT) AS cumb
      |  FROM b),
      |q AS (
      |  SELECT (cumb * 10) // nt AS dec, n, pos, nt,
      |    n * ${Parity.quantSql(pHatSql, 9)} AS pq
      |  FROM bt),
      |g AS (
      |  SELECT dec, CAST(SUM(n) AS BIGINT) AS ng,
      |    CAST(SUM(pos) AS BIGINT) AS og,
      |    CAST(SUM(pq) AS BIGINT) AS eg9, MAX(nt) AS nt
      |  FROM q GROUP BY dec),
      |t AS (
      |  SELECT nt, CASE WHEN eg9 > 0 AND eg9 < ng * 1000000000
      |    THEN ${Parity.quantSql("(og - CAST(eg9 AS DOUBLE) / 1e9)" +
                                  " * (og - CAST(eg9 AS DOUBLE) / 1e9)" +
                                  " / (CAST(ng AS DOUBLE) * (CAST(eg9 AS DOUBLE) / 1e9 / ng)" +
                                  " * (1.0 - CAST(eg9 AS DOUBLE) / 1e9 / ng))", 12)}
      |    ELSE CAST(0 AS BIGINT) END AS t12
      |  FROM g),
      |m AS (
      |  SELECT CAST(MAX(nt) AS BIGINT) AS n_docs,
      |    CAST(COUNT(*) AS BIGINT) AS n_groups,
      |    CAST(SUM(t12) AS BIGINT) AS s12
      |  FROM t)
      |SELECT n_docs, n_groups,
      |  CASE WHEN n_groups < 5 THEN NULL
      |    ELSE ${Parity.fixSql("CAST(s12 AS DOUBLE) / 1e12", 4)} + 0
      |    END AS hl_stat,
      |  n_groups - 2 AS df,
      |  CASE WHEN n_groups < 5 THEN NULL
      |    ELSE CAST(CASE WHEN ${Parity.fixSql("CAST(s12 AS DOUBLE) / 1e12", 4)}
      |      + 0 > 15.507 THEN 1 ELSE 0 END AS BIGINT) END
      |    AS reject_5pct
      |FROM m""".stripMargin

  /** L317 pinball (quantile) loss panel ([PK] Koenker & Bassett 1978;
    * the M5-competition metric): the PROPER score for quantile
    * forecasts — ρ_τ(u) = max(τu, (τ−1)u) — evaluated at
    * τ ∈ {0.1, 0.5, 0.9} for two day-ahead revenue forecasters: the
    * trailing-28-day empirical quantile (a REAL quantile forecast)
    * and naive persistence (yesterday's value, a point forecast).
    * The quantile forecaster must win at every τ (asserted) — the
    * readout q278's MAE/MASE point metrics cannot see, and the
    * reason quantile forecasts exist.
    *
    * Parity: ENTIRELY exact integer arithmetic — the trailing
    * quantile interpolates at position 27τ = (27k)/10 with exact
    * residue m = 27k mod 10, so q̂·10 = v_lo·10 + (v_hi−v_lo)·m is an
    * exact int64; every pinball term max(k·u, (k−10)·u) is exact
    * int64 scaled by 100; ONE division per row at the end, 4dp.
    * Zero libm, zero per-term rounding.
    *
    * Scale: one fact-scan day rollup; the 28-element sorted window
    * is O(k log k) per row over the scale-constant census (the q205
    * convention); ≤6-row output. */
  def q382PinballLoss(s: SparkSession, dir: String): DataFrame = {
    val d = SeriesStats.daily(s, dir)
    val wPrev = Window.orderBy("day").rowsBetween(-28, -1)
    val base = d
      .withColumn("arr", sort_array(collect_list(col("rev")).over(wPrev)))
      .withColumn("prev", lag(col("rev"), 1).over(Window.orderBy("day")))
      .withColumn("pos", row_number().over(Window.orderBy("day")))
      .filter(col("pos") >= 29)
      .select(col("rev"), col("arr"), col("prev"))
      .select(col("rev"), col("prev"), col("arr"),
        explode(array(lit(1L), lit(5L), lit(9L))).as("k"))
    val q10 = element_at(col("arr"), (expr("27 * k div 10") + 1L)
        .cast("int")) * 10L +
      (element_at(col("arr"), (expr("27 * k div 10") + 2L).cast("int")) -
        element_at(col("arr"), (expr("27 * k div 10") + 1L)
          .cast("int"))) * expr("27 * k % 10")
    def pin(u: Column): Column =
      greatest(col("k") * u, (col("k") - 10L) * u)
    val terms = base
      .withColumn("u_emp", col("rev") * 10L - q10)
      .withColumn("u_per", (col("rev") - col("prev")) * 10L)
      .select(col("k"),
        pin(col("u_emp")).as("t_emp"), pin(col("u_per")).as("t_per"))
    val m = terms.groupBy("k").agg(count(lit(1)).as("n_days"),
      sum(col("t_emp")).as("se"), sum(col("t_per")).as("sp"))
    val den = greatest(lit(100.0) * col("n_days").cast("double"),
      lit(1e-300))
    m.select((col("k").cast("double") / 10.0).as("tau"), col("n_days"),
        Parity.fix(col("se").cast("double") / den, 4).as("pinball_quantile"),
        Parity.fix(col("sp").cast("double") / den, 4).as("pinball_persist"))
      .orderBy("tau")
  }

  val q382PinballLossSql: String =
    s"""WITH d AS (
      |  ${SeriesStats.dailySql}),
      |b AS (
      |  SELECT day, rev,
      |    list_sort(array_agg(rev) OVER (ORDER BY day
      |      ROWS BETWEEN 28 PRECEDING AND 1 PRECEDING)) AS arr,
      |    LAG(rev) OVER (ORDER BY day) AS prev,
      |    ROW_NUMBER() OVER (ORDER BY day) AS pos
      |  FROM d),
      |e AS (
      |  SELECT rev, prev, arr, k
      |  FROM b CROSS JOIN (VALUES (CAST(1 AS BIGINT)),
      |    (CAST(5 AS BIGINT)), (CAST(9 AS BIGINT))) tk(k)
      |  WHERE pos >= 29),
      |t AS (
      |  SELECT k,
      |    rev * 10 - (arr[CAST(27 * k // 10 + 1 AS INT)] * 10
      |      + (arr[CAST(27 * k // 10 + 2 AS INT)]
      |        - arr[CAST(27 * k // 10 + 1 AS INT)]) * (27 * k % 10))
      |      AS u_emp,
      |    (rev - prev) * 10 AS u_per
      |  FROM e),
      |m AS (
      |  SELECT k, COUNT(*) AS n_days,
      |    CAST(SUM(GREATEST(k * u_emp, (k - 10) * u_emp)) AS BIGINT)
      |      AS se,
      |    CAST(SUM(GREATEST(k * u_per, (k - 10) * u_per)) AS BIGINT)
      |      AS sp
      |  FROM t GROUP BY k)
      |SELECT CAST(k AS DOUBLE) / 10.0 AS tau,
      |  CAST(n_days AS BIGINT) AS n_days,
      |  ${Parity.fixSql("CAST(se AS DOUBLE)" +
                         " / GREATEST(100.0 * CAST(n_days AS DOUBLE), 1e-300)", 4)}
      |    + 0 AS pinball_quantile,
      |  ${Parity.fixSql("CAST(sp AS DOUBLE)" +
                         " / GREATEST(100.0 * CAST(n_days AS DOUBLE), 1e-300)", 4)}
      |    + 0 AS pinball_persist
      |FROM m ORDER BY tau""".stripMargin

  /** L325 decile lift / cumulative-gains table *(added r17; [PK] the
    * standard marketing-model evaluation table — e.g. Berry & Linoff,
    * Data Mining Techniques)*: score every order by the customer's
    * account balance (the "model"), label it positive when its value
    * beats the global median (the A10 exact-percentile contract), and
    * read the model's worth decile by decile — response rate, lift
    * over base rate, and cumulative capture of all positives down the
    * ranking. The table q181's single-number AUC summarizes: a flat
    * lift column ≈ 1 IS the honest null here (acctbal is generated
    * independent of order value — asserted in NonDegeneracySpec, the
    * q238 vacuity lesson: the MACHINERY is exercised by the
    * non-degenerate decile counts, not by a fake signal).
    *
    * Parity: deciles ride [[RangedNtile]] == NTILE(10) on the total
    * order (acctbal DESC, custkey, orderkey); labels are exact cent
    * comparisons against the exact median; counts exact int64;
    * rate/lift/capture are single double chains, 6dp.
    *
    * Scale: broadcast customer dim onto the fact scan; the decile
    * pass is the two-phase range-partitioned RangedNtile (NO
    * single-reducer sort — the q98 contract); per-decile agg is
    * 10 rows; cumulative windows run over those 10 rows. */
  def q390LiftTable(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        Parity.quant(col("o_totalprice"), 100.0).as("cents"))
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_acctbal"))),
        col("o_custkey") === col("c_custkey"))
    val med = base.agg(expr("percentile(cents, 0.5)").as("med"))
    val scored = base.crossJoin(broadcast(med))
      .withColumn("y", (col("cents").cast("double") > col("med"))
        .cast("long"))
    val deciles = RangedNtile.withNtile(scored, 10,
      Seq(col("c_acctbal").desc, col("o_custkey"), col("o_orderkey")),
      "decile")
    val g = deciles.groupBy("decile")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("npos"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wCum = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def d(c: Column) = c.cast("double")
    val f = g
      .withColumn("nt", sum(col("n")).over(wAll))
      .withColumn("pt", sum(col("npos")).over(wAll))
      .withColumn("cpos", sum(col("npos")).over(wCum))
    f.select(col("decile"), col("n"), col("npos"),
        Parity.fix(d(col("npos")) / d(col("n")), 6).as("response_rate"),
        Parity.fix((d(col("npos")) / d(col("n"))) /
          greatest(d(col("pt")) / d(col("nt")), lit(1e-300)), 6).as("lift"),
        Parity.fix(d(col("cpos")) / greatest(d(col("pt")), lit(1e-300)), 6)
          .as("cum_capture"))
      .orderBy("decile")
  }

  val q390LiftTableSql: String =
    s"""WITH base AS (
      |  SELECT o_orderkey, o_custkey, c_acctbal,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |m AS (SELECT quantile_cont(cents, 0.5) AS med FROM base),
      |scored AS (
      |  SELECT NTILE(10) OVER (ORDER BY c_acctbal DESC, o_custkey,
      |      o_orderkey) AS decile,
      |    CASE WHEN CAST(cents AS DOUBLE) > med THEN 1 ELSE 0 END AS y
      |  FROM base CROSS JOIN m),
      |g AS (
      |  SELECT decile, COUNT(*) AS n,
      |    CAST(SUM(y) AS BIGINT) AS npos
      |  FROM scored GROUP BY decile),
      |f AS (
      |  SELECT decile, n, npos,
      |    CAST(SUM(n) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(npos) OVER () AS BIGINT) AS pt,
      |    CAST(SUM(npos) OVER (ORDER BY decile
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cpos
      |  FROM g)
      |SELECT decile, n, npos,
      |  ${Parity.fixSql("CAST(npos AS DOUBLE) / n", 6)} + 0
      |    AS response_rate,
      |  ${Parity.fixSql("(CAST(npos AS DOUBLE) / n)" +
                         " / GREATEST(CAST(pt AS DOUBLE) / nt, 1e-300)", 6)}
      |    + 0 AS lift,
      |  ${Parity.fixSql("CAST(cpos AS DOUBLE) / GREATEST(CAST(pt AS DOUBLE), 1e-300)", 6)}
      |    + 0 AS cum_capture
      |FROM f ORDER BY decile""".stripMargin

  /** The q392/q393 VaR-backtest frame: a trailing-100-day empirical
    * 5th-percentile "Value-at-Risk" forecast of daily revenue (the
    * k = ⌈0.05·w⌉-th smallest of the window — pinned lower-tail
    * convention) and the breach indicator rev_t < VaR_t, evaluated
    * from day 101. Rolling exact order statistics ride the q205
    * collect+sort idiom over the scale-constant day census. */
  private def varBreaches(s: SparkSession, dir: String): DataFrame = {
    val d = SeriesStats.daily(s, dir)
    val w = Window.orderBy("day").rowsBetween(-100, -1)
    d.withColumn("ws", sort_array(collect_list(col("rev")).over(w)))
      .withColumn("k", size(col("ws")))
      .filter(col("k") === 100)
      .select(col("day"), col("rev"),
        element_at(col("ws"), lit(5)).as("var95"))
      .withColumn("breach", (col("rev") < col("var95")).cast("long"))
  }

  private val varBreachesSql: String =
    s"""SELECT day, rev, ws[5] AS var95,
      |  CASE WHEN rev < ws[5] THEN 1 ELSE 0 END AS breach
      |FROM (
      |  SELECT day, rev,
      |    list_sort(list(rev) OVER (ORDER BY day
      |      ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)) AS ws
      |  FROM (${SeriesStats.dailySql}))
      |WHERE len(ws) = 100""".stripMargin

  /** L327 Kupiec proportion-of-failures VaR backtest *(added r17;
    * [PK] Kupiec 1995)* — the unconditional-coverage likelihood
    * ratio every risk desk runs: with x breaches in n days at
    * nominal p = 5 %, LR_pof = −2[(n−x)ln(1−p) + x ln p −
    * (n−x)ln(1−x̂) − x ln x̂] ~ χ²(1). The q382/q389 forecast family's
    * TAIL counterpart: those score the center, this tests whether
    * the 5 % tail is actually 5 %.
    *
    * Parity: the rolling 5th percentile is an exact order statistic
    * (integer revenue); breach counts exact int64; LR is one 1-ROW
    * terminal-ln chain on exact ratios (no cross-row libm — the
    * q354 scalar exemption), 4dp.
    *
    * Scale: the q205 documented census shape; 1-row output. */
  def q392KupiecPof(s: SparkSession, dir: String): DataFrame = {
    val g = varBreaches(s, dir)
      .agg(count(lit(1)).as("n"), sum(col("breach")).as("x"))
    def d(c: Column) = c.cast("double")
    val (n, x) = (d(col("n")), d(col("x")))
    val rate = x / n
    val p = 0.05
    val lr = lit(-2.0) * ((n - x) * log(lit(1.0) - p) + x * log(lit(p)) -
      when(col("x") === 0L, lit(0.0)).otherwise(x * log(rate)) -
      when(col("x") === col("n"), lit(0.0))
        .otherwise((n - x) * log(lit(1.0) - rate)))
    g.select(col("n").as("n_days"), col("x").as("n_breach"),
      Parity.fix(rate, 6).as("breach_rate"),
      Parity.fix(lr, 4).as("lr_pof"),
      (Parity.fix(lr, 4) > 3.8415).cast("long").as("reject_5pct"))
  }

  val q392KupiecPofSql: String =
    s"""WITH vb AS ($varBreachesSql),
       |g AS (
       |  SELECT COUNT(*) AS n, CAST(SUM(breach) AS BIGINT) AS x
       |  FROM vb),
       |f AS (
       |  SELECT n, x,
       |    CAST(x AS DOUBLE) / n AS rate,
       |    -2.0 * ((n - x) * ln(0.95) + x * ln(0.05)
       |      - CASE WHEN x = 0 THEN 0.0
       |          ELSE x * ln(CAST(x AS DOUBLE) / n) END
       |      - CASE WHEN x = n THEN 0.0
       |          ELSE (n - x) * ln(1.0 - CAST(x AS DOUBLE) / n) END)
       |      AS lr
       |  FROM g)
       |SELECT CAST(n AS BIGINT) AS n_days, x AS n_breach,
       |  ${Parity.fixSql("rate", 6)} + 0 AS breach_rate,
       |  ${Parity.fixSql("lr", 4)} + 0 AS lr_pof,
       |  CAST(CASE WHEN lr IS NULL THEN NULL
       |    WHEN ${Parity.fixSql("lr", 4)} + 0 > 3.8415
       |    THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
       |FROM f""".stripMargin

  /** L328 Christoffersen independence test *(added r17; [PK]
    * Christoffersen 1998)* — q392's COMPANION: even a correct 5 %
    * breach RATE fails risk management if breaches CLUSTER (one bad
    * week, not twenty bad days). Tests first-order independence of
    * the breach sequence via the 2×2 transition counts n₀₀ n₀₁ n₁₀
    * n₁₁: LR_ind = −2[ℓ(π)−ℓ(π₀,π₁)] ~ χ²(1), with the standard
    * 0·ln 0 = 0 convention per term.
    *
    * Parity: transition counts are exact int64 (lag over the day
    * census); LR is one 1-row terminal-ln chain (q354 exemption),
    * 4dp; every potentially-empty cell carries the explicit CASE
    * convention on both engines.
    *
    * Scale: the q205 documented census shape; 1-row output. */
  def q393Christoffersen(s: SparkSession, dir: String): DataFrame = {
    val wLag = Window.orderBy("day")
    val tr = varBreaches(s, dir)
      .withColumn("prev", lag(col("breach"), 1).over(wLag))
      .filter(col("prev").isNotNull)
    val g = tr.agg(
      sum(when(col("prev") === 0L && col("breach") === 0L, 1L)
        .otherwise(0L)).as("n00"),
      sum(when(col("prev") === 0L && col("breach") === 1L, 1L)
        .otherwise(0L)).as("n01"),
      sum(when(col("prev") === 1L && col("breach") === 0L, 1L)
        .otherwise(0L)).as("n10"),
      sum(when(col("prev") === 1L && col("breach") === 1L, 1L)
        .otherwise(0L)).as("n11"))
    def d(c: String) = col(c).cast("double")
    val n = d("n00") + d("n01") + d("n10") + d("n11")
    val pi = (d("n01") + d("n11")) / n
    val pi0 = d("n01") / greatest(d("n00") + d("n01"), lit(1e-300))
    val pi1 = d("n11") / greatest(d("n10") + d("n11"), lit(1e-300))
    def term(cnt: Column, prob: Column): Column =
      when(cnt === 0.0, lit(0.0)).otherwise(cnt * log(prob))
    val l0 = term(d("n00") + d("n10"), lit(1.0) - pi) +
      term(d("n01") + d("n11"), pi)
    val l1 = term(d("n00"), lit(1.0) - pi0) + term(d("n01"), pi0) +
      term(d("n10"), lit(1.0) - pi1) + term(d("n11"), pi1)
    val lr = lit(-2.0) * (l0 - l1)
    g.select(col("n00"), col("n01"), col("n10"), col("n11"),
      Parity.fix(pi1, 6).as("p_breach_after_breach"),
      Parity.fix(lr, 4).as("lr_ind"),
      (Parity.fix(lr, 4) > 3.8415).cast("long").as("reject_5pct"))
  }

  val q393ChristoffersenSql: String =
    s"""WITH vb AS ($varBreachesSql),
       |tr AS (
       |  SELECT LAG(breach, 1) OVER (ORDER BY day) AS prev, breach
       |  FROM vb QUALIFY prev IS NOT NULL),
       |g AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN prev = 0 AND breach = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n00,
       |    CAST(SUM(CASE WHEN prev = 0 AND breach = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n01,
       |    CAST(SUM(CASE WHEN prev = 1 AND breach = 0 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n10,
       |    CAST(SUM(CASE WHEN prev = 1 AND breach = 1 THEN 1 ELSE 0 END)
       |      AS BIGINT) AS n11
       |  FROM tr),
       |f AS (
       |  SELECT n00, n01, n10, n11,
       |    CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS n,
       |    CAST(n01 + n11 AS DOUBLE)
       |      / CAST(n00 + n01 + n10 + n11 AS DOUBLE) AS pi,
       |    CAST(n01 AS DOUBLE) / GREATEST(CAST(n00 + n01 AS DOUBLE),
       |      1e-300) AS pi0,
       |    CAST(n11 AS DOUBLE) / GREATEST(CAST(n10 + n11 AS DOUBLE),
       |      1e-300) AS pi1
       |  FROM g),
       |z AS (
       |  SELECT n00, n01, n10, n11, pi1,
       |    -2.0 * (
       |      (CASE WHEN n00 + n10 = 0 THEN 0.0
       |        ELSE (n00 + n10) * ln(1.0 - pi) END
       |      + CASE WHEN n01 + n11 = 0 THEN 0.0
       |        ELSE (n01 + n11) * ln(pi) END)
       |      - (CASE WHEN n00 = 0 THEN 0.0 ELSE n00 * ln(1.0 - pi0) END
       |      + CASE WHEN n01 = 0 THEN 0.0 ELSE n01 * ln(pi0) END
       |      + CASE WHEN n10 = 0 THEN 0.0 ELSE n10 * ln(1.0 - pi1) END
       |      + CASE WHEN n11 = 0 THEN 0.0 ELSE n11 * ln(pi1) END))
       |      AS lr
       |  FROM f)
       |SELECT n00, n01, n10, n11,
       |  ${Parity.fixSql("pi1", 6)} + 0 AS p_breach_after_breach,
       |  ${Parity.fixSql("lr", 4)} + 0 AS lr_ind,
       |  CAST(CASE WHEN lr IS NULL THEN NULL
       |    WHEN ${Parity.fixSql("lr", 4)} + 0 > 3.8415
       |    THEN 1 ELSE 0 END AS BIGINT) AS reject_5pct
       |FROM z""".stripMargin

  /** L330 Youden's J optimal operating point *(added r17; [PK]
    * Youden 1950)* — turns q181's whole-curve AUC into the decision
    * the curve is FOR: the threshold maximizing J = TPR − FPR on the
    * q390 frame (acctbal score, above-median-value label). The
    * argmax runs over EVERY distinct score threshold by maximizing
    * the EXACT cross-multiplied integer ge_pos·N⁻ − ge_neg·N⁺ — no
    * doubles anywhere until the output rates, so the argmax is
    * engine-exact (no rounding can flip it); threshold ties break to
    * the highest score (pinned).
    *
    * Parity: the (score, label) census + ONE [[PrefixSum]] pass
    * gives exact ≥-threshold counts and the global totals (no
    * fact-sized window); TPR/FPR/J are 6dp output divisions only.
    *
    * Scale: census + PrefixSum (no single-reducer sort); the argmax
    * is one exact max + equality filter; 1-row output. */
  def q395YoudenJ(s: SparkSession, dir: String): DataFrame = {
    // null filter (fuzz seed 138): a NULL score would land FIRST in
    // Spark's range order but LAST in DuckDB's ORDER BY, skewing every
    // cumulative count after it — scores and labels must be non-null
    val base = Tables.orders(s, dir)
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_custkey"),
        Parity.quant(col("o_totalprice"), 100.0).as("cents"))
      .join(broadcast(Tables.customer(s, dir)
        .filter(col("c_acctbal").isNotNull)
        .select(col("c_custkey"),
          Parity.quant(col("c_acctbal"), 100.0).as("score"))),
        col("o_custkey") === col("c_custkey"))
    val med = base.agg(expr("percentile(cents, 0.5)").as("med"))
    val lab = base.crossJoin(broadcast(med))
      .select(col("score"),
        (col("cents").cast("double") > col("med")).cast("long").as("y"))
    // the census has one consumer — its totals ride the prefix pass —
    // so it needs no checkpoint
    val cen = lab.groupBy("score")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    val j = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
        Seq(col("score")), Seq((col("np"), "cp"), (col("nn"), "cn")), Nil,
        Seq((col("np"), "post"), (col("nn"), "negt")))
      .withColumn("gep", col("post") - col("cp") + col("np"))
      .withColumn("gen", col("negt") - col("cn") + col("nn"))
      .withColumn("num", col("gep").cast(dec) * col("negt").cast(dec) -
        col("gen").cast(dec) * col("post").cast(dec))
    // argmax in ONE ordered-limit pass over the census (r19): the
    // previous max-agg + equality-join + groupBy evaluated the whole j
    // subtree twice; (num desc, score desc) LIMIT 1 selects exactly the
    // same row — the max score among rows attaining max num (score is
    // the census key, so max(struct(score, …)) = the max-score row)
    val best = j
      .orderBy(col("num").desc, col("score").desc).limit(1)
      .select(col("post"), col("negt"), col("num").as("mxnum"),
        col("score").as("thr"), col("gep"), col("gen"))
    def d(c: String) = col(c).cast("double")
    best.select(col("post").as("n_pos"), col("negt").as("n_neg"),
      (d("thr") / 100.0).as("threshold_dollars"),
      Parity.fix(d("gep") / greatest(d("post"), lit(1e-300)), 6).as("tpr"),
      Parity.fix(d("gen") / greatest(d("negt"), lit(1e-300)), 6).as("fpr"),
      Parity.fix(col("mxnum").cast("double") /
        greatest(d("post") * d("negt"), lit(1e-300)), 6).as("youden_j"))
  }

  val q395YoudenJSql: String =
    s"""WITH base AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS score
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL),
      |m AS (SELECT quantile_cont(cents, 0.5) AS med FROM base),
      |lab AS (
      |  SELECT score,
      |    CASE WHEN CAST(cents AS DOUBLE) > med THEN 1 ELSE 0 END AS y
      |  FROM base CROSS JOIN m),
      |cen AS (
      |  SELECT score, CAST(SUM(y) AS BIGINT) AS np,
      |    CAST(SUM(1 - y) AS BIGINT) AS nn
      |  FROM lab GROUP BY score),
      |tot AS (
      |  SELECT CAST(SUM(np) AS BIGINT) AS post,
      |    CAST(SUM(nn) AS BIGINT) AS negt FROM cen),
      |cum AS (
      |  SELECT score, np, nn,
      |    CAST(SUM(np) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cp,
      |    CAST(SUM(nn) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cn
      |  FROM cen),
      |j AS (
      |  SELECT score, post - cp + np AS gep, negt - cn + nn AS gen,
      |    CAST(post - cp + np AS HUGEINT) * negt
      |      - CAST(negt - cn + nn AS HUGEINT) * post AS num,
      |    post, negt
      |  FROM cum CROSS JOIN tot),
      |mx AS (SELECT MAX(num) AS mxnum FROM j),
      |best AS (
      |  SELECT post, negt, mxnum, MAX(score) AS thr
      |  FROM j JOIN mx ON num = mxnum
      |  GROUP BY post, negt, mxnum),
      |b2 AS (
      |  SELECT best.*, j.gep, j.gen
      |  FROM best JOIN j ON j.score = best.thr AND j.num = best.mxnum)
      |SELECT post AS n_pos, negt AS n_neg,
      |  CAST(thr AS DOUBLE) / 100.0 AS threshold_dollars,
      |  ${Parity.fixSql("CAST(gep AS DOUBLE) / GREATEST(CAST(post AS DOUBLE), 1e-300)", 6)}
      |    + 0 AS tpr,
      |  ${Parity.fixSql("CAST(gen AS DOUBLE) / GREATEST(CAST(negt AS DOUBLE), 1e-300)", 6)}
      |    + 0 AS fpr,
      |  ${Parity.fixSql("CAST(mxnum AS DOUBLE)" +
                         " / GREATEST(CAST(post AS DOUBLE) * CAST(negt AS DOUBLE), 1e-300)", 6)}
      |    + 0 AS youden_j
      |FROM b2""".stripMargin

  /** L331 information-gain optimal split *(added r17; [PK] Quinlan
    * 1986 (ID3); Breiman et al. 1984)* — q395's decision-theoretic
    * sibling on the identical frame: the score threshold maximizing
    * IG = H(parent) − Σ w·H(child), i.e. a one-node decision stump.
    * Youden optimizes RATE SEPARATION; IG optimizes expected
    * description length — publishing both thresholds says whether
    * the two criteria agree on where the score cuts (under the
    * independence null they wander — the stump finds only noise, IG
    * near 0, asserted band).
    *
    * Parity: per-threshold child counts come from the q395 census +
    * [[PrefixSum]] machinery; each candidate's IG is ONE identical
    * double chain PICO-quantized (1e12) per census row — quantized
    * VALUES are compared/maxed, never accumulated, so cross-engine
    * argmax cannot flip (ties to the highest score, pinned); output
    * divisions 6dp.
    *
    * Scale: census + PrefixSum + broadcast 1-row argmax — the q395
    * shape verbatim; 1-row output. */
  def q396InfoGainSplit(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_custkey"),
        Parity.quant(col("o_totalprice"), 100.0).as("cents"))
      .join(broadcast(Tables.customer(s, dir)
        .filter(col("c_acctbal").isNotNull)
        .select(col("c_custkey"),
          Parity.quant(col("c_acctbal"), 100.0).as("score"))),
        col("o_custkey") === col("c_custkey"))
    val med = base.agg(expr("percentile(cents, 0.5)").as("med"))
    val lab = base.crossJoin(broadcast(med))
      .select(col("score"),
        (col("cents").cast("double") > col("med")).cast("long").as("y"))
    // the q395 census, totals and single-pass argmax
    val cen = lab.groupBy("score")
      .agg(sum(col("y")).as("np"), sum(lit(1L) - col("y")).as("nn"))
    // plogp(a, n) = -(a/n)·ln(a/n) with the 0·ln0 = 0 convention
    def plogp(a: Column, n: Column): Column =
      when(a === 0L || n === 0L, lit(0.0))
        .otherwise(lit(-1.0) * (a.cast("double") / n.cast("double")) *
          log(a.cast("double") / n.cast("double")))
    val j = graft.ops.PrefixSum.withPrefixSumsAndTotals(cen,
        Seq(col("score")), Seq((col("np"), "cp"), (col("nn"), "cn")), Nil,
        Seq((col("np"), "post"), (col("nn"), "negt")))
      .withColumn("gep", col("post") - col("cp") + col("np"))
      .withColumn("gen", col("negt") - col("cn") + col("nn"))
      .withColumn("ltp", col("post") - col("gep"))
      .withColumn("ltn", col("negt") - col("gen"))
    val bigN = col("post") + col("negt")
    val nGe = col("gep") + col("gen")
    val nLt = col("ltp") + col("ltn")
    val hPar = plogp(col("post"), bigN) + plogp(col("negt"), bigN)
    val hGe = plogp(col("gep"), nGe) + plogp(col("gen"), nGe)
    val hLt = plogp(col("ltp"), nLt) + plogp(col("ltn"), nLt)
    val ig = hPar -
      (nGe.cast("double") / bigN.cast("double")) * hGe -
      (nLt.cast("double") / bigN.cast("double")) * hLt
    val scored = j.withColumn("igq", Parity.quant(ig, 1e12))
    // one ordered-limit pass = the max-igq row with max score (igq
    // ties), identical to the previous max-agg + join + groupBy
    val best = scored
      .orderBy(col("igq").desc, col("score").desc).limit(1)
      .select(col("post"), col("negt"), col("igq").as("mxig"),
        col("score").as("thr"))
    def d(c: String) = col(c).cast("double")
    val hParBest = plogp(col("post"), col("post") + col("negt")) +
      plogp(col("negt"), col("post") + col("negt"))
    best.select(col("post").as("n_pos"), col("negt").as("n_neg"),
      (d("thr") / 100.0).as("threshold_dollars"),
      Parity.fix(hParBest, 6).as("parent_entropy"),
      Parity.fix(col("mxig").cast("double") / 1e12, 6).as("info_gain"))
  }

  val q396InfoGainSplitSql: String = {
    def plogp(a: String, n: String): String =
      s"(CASE WHEN $a = 0 OR $n = 0 THEN 0.0 ELSE " +
        s"-(CAST($a AS DOUBLE) / $n) * ln(CAST($a AS DOUBLE) / $n) END)"
    s"""WITH base AS (
      |  SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS score
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  WHERE o_totalprice IS NOT NULL AND c_acctbal IS NOT NULL),
      |m AS (SELECT quantile_cont(cents, 0.5) AS med FROM base),
      |lab AS (
      |  SELECT score,
      |    CASE WHEN CAST(cents AS DOUBLE) > med THEN 1 ELSE 0 END AS y
      |  FROM base CROSS JOIN m),
      |cen AS (
      |  SELECT score, CAST(SUM(y) AS BIGINT) AS np,
      |    CAST(SUM(1 - y) AS BIGINT) AS nn
      |  FROM lab GROUP BY score),
      |tot AS (
      |  SELECT CAST(SUM(np) AS BIGINT) AS post,
      |    CAST(SUM(nn) AS BIGINT) AS negt FROM cen),
      |cum AS (
      |  SELECT score, np, nn,
      |    CAST(SUM(np) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cp,
      |    CAST(SUM(nn) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS cn
      |  FROM cen),
      |j AS (
      |  SELECT score, post, negt,
      |    post - cp + np AS gep, negt - cn + nn AS gen,
      |    cp - np AS ltp, cn - nn AS ltn
      |  FROM cum CROSS JOIN tot),
      |ig AS (
      |  SELECT score, post, negt,
      |    ${Parity.quantSql("(" +
                             s" ${plogp("post", "(post + negt)")}" +
                             s" + ${plogp("negt", "(post + negt)")}" +
                             " - (CAST(gep + gen AS DOUBLE) / (post + negt))" +
                             s" * (${plogp("gep", "(gep + gen)")}" +
                             s" + ${plogp("gen", "(gep + gen)")})" +
                             " - (CAST(ltp + ltn AS DOUBLE) / (post + negt))" +
                             s" * (${plogp("ltp", "(ltp + ltn)")}" +
                             s" + ${plogp("ltn", "(ltp + ltn)")})" +
                             " )", 12)}
      |      AS igq
      |  FROM j),
      |mx AS (SELECT MAX(igq) AS mxig FROM ig),
      |best AS (
      |  SELECT post, negt, mxig, MAX(score) AS thr
      |  FROM ig JOIN mx ON igq = mxig
      |  GROUP BY post, negt, mxig)
      |SELECT post AS n_pos, negt AS n_neg,
      |  CAST(thr AS DOUBLE) / 100.0 AS threshold_dollars,
      |  ${Parity.fixSql(s"(${plogp("post", "(post + negt)")}" +
                         s" + ${plogp("negt", "(post + negt)")})", 6)}
      |    + 0
      |    AS parent_entropy,
      |  ${Parity.fixSql("CAST(mxig AS DOUBLE) / 1e12", 6)} + 0
      |    AS info_gain
      |FROM best""".stripMargin
  }
}
