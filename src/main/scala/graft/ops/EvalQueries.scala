package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inter-rater agreement / reliability family (round 13, batch 2;
  * trimmed in round 17: the scale/normality/regression diagnostics
  * moved to [[InferenceDiagnostics]] when this file hit 1,779 lines —
  * the same review-locality seam as the r15/r16 splits). Members
  * share the three-screen `raters` table: q282 Krippendorff's α,
  * q285 Kendall's W, q297 Cronbach's α, q301 ICC ladder, q310 Gwet's
  * AC1, q374 Bland–Altman, q375 weighted-kappa ladder.
  */
object EvalQueries {


  private val dec = "decimal(38,0)"


  /** The q274/q281 three-screen rater table: one row per document with
    * 0/1 verdicts from the length / verbosity / stopword screens. */
  private def raters(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(
        when(col("n_chars") >= 100, 1L).otherwise(0L).as("r1"),
        when(size(tokens(col("text"))) >= 20, 1L).otherwise(0L).as("r2"),
        when(arrays_overlap(tokens(col("text")),
          typedlit(Seq("the", "a", "of", "and", "to", "in", "is", "on"))),
          1L).otherwise(0L).as("r3"))
      .withColumn("g", col("r1") + col("r2") + col("r3"))


  /** L215 Krippendorff's α, nominal, 3 raters ([PK] Krippendorff 1970):
    * the same ensemble-agreement question as Fleiss' κ (q274) under
    * the coincidence-matrix chance model — expected disagreement is
    * computed WITHOUT replacement over the N = 3n pairable values
    * (the (N−1) in D_e), which is why α ≠ κ on finite corpora and why
    * α is the convention content-analysis reports. Binary nominal:
    * per-doc observed disagreement Σ 2g(3−g) over n·m(m−1) pairs;
    * D_e = 2G(N−G)/(N(N−1)) with G total good votes.
    *
    * Parity: both D's are ratios of exact int64/DECIMAL sums; α is
    * computed from the EXACT rational cross-product (not the rounded
    * D's), one double division, 6dp.
    *
    * Scale: one map-side-combinable agg — no joins, no windows.
    * Guards: D_e = 0 (all 3n values identical) → null α. */
  def q282KrippAlpha(s: SparkSession, dir: String): DataFrame = {
    val a = raters(s, dir).agg(count(lit(1)).as("n_docs"),
      sum(col("g")).as("votes_good"),
      sum(col("g") * (lit(3L) - col("g")) * 2L).as("dis_pairs"))
    val n = col("n_docs")
    val nv = n * 3L // pairable values
    val g = col("votes_good")
    // α = 1 − (dis_pairs / (6n)) / (2G(N−G) / (N(N−1)))
    //   = 1 − dis_pairs·N·(N−1) / (6n · 2G(N−G)), exact cross-products
    val num = col("dis_pairs").cast(dec) * nv.cast(dec) * (nv - 1L).cast(dec)
    val den = lit(12L).cast(dec) * n.cast(dec) * g.cast(dec) *
      (nv - g).cast(dec)
    val degenerate = g === 0L || g === nv
    a.select(n.as("n_docs"), nv.as("n_values"), g.as("votes_good"),
      (round(col("dis_pairs").cast("double") / (n.cast("double") * 6.0), 6)
        + 0.0).as("d_o"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(lit(2.0) * g.cast("double") *
          (nv - g).cast("double") /
          (nv.cast("double") * (nv - 1L).cast("double")), 6) + 0.0)
        .as("d_e"),
      when(degenerate, lit(null).cast("double"))
        .otherwise(round(lit(1.0) -
          num.cast("double") / den.cast("double"), 6) + 0.0)
        .as("kripp_alpha"))
  }


  val q282KrippAlphaSql: String =
    """WITH d AS (
      |  SELECT
      |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
      |    + (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0
      |       END)
      |    + (CASE WHEN len(list_intersect(string_split(text, ' '),
      |        ['the','a','of','and','to','in','is','on'])) > 0
      |       THEN 1 ELSE 0 END) AS g
      |  FROM documents),
      |a AS (
      |  SELECT COUNT(*) AS n_docs,
      |    CAST(SUM(g) AS BIGINT) AS votes_good,
      |    CAST(SUM(g * (3 - g) * 2) AS BIGINT) AS dis_pairs
      |  FROM d)
      |SELECT n_docs, 3 * n_docs AS n_values, votes_good,
      |  ROUND(CAST(dis_pairs AS DOUBLE) / (CAST(n_docs AS DOUBLE) * 6.0),
      |    6) + 0 AS d_o,
      |  CASE WHEN votes_good = 0 OR votes_good = 3 * n_docs THEN NULL
      |    ELSE ROUND(2.0 * CAST(votes_good AS DOUBLE)
      |      * CAST(3 * n_docs - votes_good AS DOUBLE)
      |      / (CAST(3 * n_docs AS DOUBLE)
      |         * CAST(3 * n_docs - 1 AS DOUBLE)), 6) + 0 END AS d_e,
      |  CASE WHEN votes_good = 0 OR votes_good = 3 * n_docs THEN NULL
      |    ELSE ROUND(1.0
      |      - CAST(CAST(dis_pairs AS HUGEINT) * (3 * n_docs)
      |          * (3 * n_docs - 1) AS DOUBLE)
      |        / CAST(12 * CAST(n_docs AS HUGEINT) * votes_good
      |          * (3 * n_docs - votes_good) AS DOUBLE), 6) + 0 END
      |    AS kripp_alpha
      |FROM a""".stripMargin


  /** L218 Kendall's coefficient of concordance W ([PK] Kendall &
    * Babington Smith 1939), tie-corrected: do the 7 ISO weekdays
    * agree on how the event types rank by traffic? Each weekday
    * "judges" the event-type field by its event count that weekday;
    * W ∈ [0,1] measures concordance of the k = 7 rankings (W = 1:
    * weekday never changes the ordering — the type mix is stationary
    * across the week; W → 0: the mix reshuffles daily). The
    * effect-size companion of the Friedman test (q241) and the
    * k-judge generalization of Spearman's ρ (q177).
    *
    * Midranks ride the integer-exact doubled form 2·midrank =
    * 2·rank + ties − 1 (the q211/q251 convention); the tie correction
    * subtracts k·ΣT_j, T_j = Σ(t³−t) per weekday.
    *
    * Parity: every sum is exact int64 on a ≤(7×|event types|) census;
    * W is one double division of exact ints, 6dp.
    *
    * Scale: one corpus agg to the (weekday, type) census, then windows
    * over ≤ 7n rows. Guards: n < 2 objects or a fully-tied panel
    * (denominator 0) → null W.
    *
    * Panel completeness (r14, advisor fix): W assumes every judge
    * ranks the SAME n objects. An event type with zero events on some
    * weekday used to vanish from that judge's census, so judges ranked
    * different object sets while k_judges = max(k) masked the gap.
    * The observed (isodow, event_type) census is now densified to the
    * full distinct-days × distinct-types grid with zero-count cells
    * (a ≤7×|types| cross join — bounded by the type vocabulary, never
    * by corpus size), and a defensive min(k) ≠ max(k) null guards the
    * statistic should the invariant ever break again. */
  def q285KendallW(s: SparkSession, dir: String): DataFrame = {
    val raw = Tables.events(s, dir)
      .select((weekday(col("ts").cast("date")) + 1).as("isodow"),
        col("event_type"))
      .groupBy("isodow", "event_type").agg(count(lit(1)).as("cnt0"))
    val cell = raw.select("isodow").distinct()
      .crossJoin(broadcast(raw.select("event_type").distinct()))
      .join(raw, Seq("isodow", "event_type"), "left")
      .select(col("isodow"), col("event_type"),
        coalesce(col("cnt0"), lit(0L)).as("cnt"))
    // 2·midrank = 2·rank(cnt asc) + ties − 1 within each weekday judge
    val wj = Window.partitionBy("isodow").orderBy(col("cnt"))
    // lazy checkpoint: ranked feeds BOTH the per-object rank sums and
    // the tie census — without it the grid-densify cross join re-plans
    // per branch (BNLJ ×3, q316-census pattern)
    val ranked = cell
      .withColumn("r2",
        lit(2L) * rank().over(wj) +
          count(lit(1)).over(wj.rangeBetween(0, 0)) - 1L)
      .withColumn("ties", count(lit(1)).over(wj.rangeBetween(0, 0)))
      .localCheckpoint(eager = false)
    // per-object doubled rank sums R2_i = Σ_j 2·midrank_ij
    val perObj = ranked.groupBy("event_type")
      .agg(sum(col("r2")).as("r2sum"), count(lit(1)).as("k"))
    // tie correction: ΣT_j counts each size-t tie group t times via
    // the per-row (t²−1) form: Σ_rows (ties²−1) = Σ_groups t(t²−1)
    val tiesAgg = ranked.agg(
      sum(col("ties") * col("ties") - 1L).as("tt"))
    val objAgg = perObj.agg(count(lit(1)).as("n_objects"),
      max(col("k")).as("k_judges"),
      min(col("k")).as("k_min"),
      sum(col("r2sum") * col("r2sum")).as("sr2sq"),
      sum(col("r2sum")).as("sr2"))
    val n = col("n_objects")
    val k = col("k_judges")
    // 4·S = Σ(R2)² − (ΣR2)²/n → numerator of W uses 12·(n·Σ(R2)²−(ΣR2)²)
    // over n·4·(k²(n³−n) − kΣT)
    val wNum = lit(12L).cast(dec) *
      (n.cast(dec) * col("sr2sq").cast(dec) -
        col("sr2").cast(dec) * col("sr2").cast(dec))
    val wDen = lit(4L).cast(dec) * n.cast(dec) *
      (k.cast(dec) * k.cast(dec) * (n.cast(dec) * n.cast(dec) * n.cast(dec)
        - n.cast(dec)) - k.cast(dec) * col("tt").cast(dec))
    val wStat = wNum.cast("double") / wDen.cast("double")
    val undef = n < 2L || wDen.cast("double") <= 0.0 ||
      col("k_min") =!= k
    objAgg.crossJoin(broadcast(tiesAgg))
      .select(n.as("n_objects"), k.as("k_judges"), col("tt").as("tie_term"),
        when(undef, lit(null).cast("double"))
          .otherwise(round(wStat, 6) + 0.0).as("kendall_w"),
        when(undef, lit(null).cast("double"))
          .otherwise(round(k.cast("double") * (n.cast("double") - 1.0) *
            wStat, 4) + 0.0).as("friedman_chi2"))
  }


  val q285KendallWSql: String =
    """WITH raw AS (
      |  SELECT CAST(date_part('isodow', CAST(ts AS DATE)) AS BIGINT)
      |      AS isodow,
      |    event_type, COUNT(*) AS cnt
      |  FROM events GROUP BY 1, 2),
      |cell AS (
      |  SELECT d.isodow, t.event_type, COALESCE(r.cnt, 0) AS cnt
      |  FROM (SELECT DISTINCT isodow FROM raw) d
      |  CROSS JOIN (SELECT DISTINCT event_type FROM raw) t
      |  LEFT JOIN raw r
      |    ON r.isodow = d.isodow AND r.event_type = t.event_type),
      |ranked AS (
      |  SELECT event_type,
      |    2 * RANK() OVER (PARTITION BY isodow ORDER BY cnt)
      |      + COUNT(*) OVER (PARTITION BY isodow, cnt) - 1 AS r2,
      |    COUNT(*) OVER (PARTITION BY isodow, cnt) AS ties
      |  FROM cell),
      |perobj AS (
      |  SELECT event_type, CAST(SUM(r2) AS BIGINT) AS r2sum,
      |    COUNT(*) AS k
      |  FROM ranked GROUP BY event_type),
      |oa AS (
      |  SELECT COUNT(*) AS n, CAST(MAX(k) AS BIGINT) AS k,
      |    CAST(MIN(k) AS BIGINT) AS k_min,
      |    CAST(SUM(CAST(r2sum AS HUGEINT) * r2sum) AS HUGEINT) AS sr2sq,
      |    CAST(SUM(r2sum) AS BIGINT) AS sr2
      |  FROM perobj),
      |ta AS (
      |  SELECT CAST(SUM(CAST(ties AS HUGEINT) * ties - 1) AS BIGINT) AS tt
      |  FROM ranked),
      |f AS (
      |  SELECT n, k, k_min, tt,
      |    CAST(12 * (n * sr2sq - CAST(sr2 AS HUGEINT) * sr2) AS DOUBLE)
      |      AS wnum,
      |    CAST(4 * CAST(n AS HUGEINT)
      |      * (k * k * (CAST(n AS HUGEINT) * n * n - n) - k * tt)
      |      AS DOUBLE) AS wden
      |  FROM oa CROSS JOIN ta)
      |SELECT n AS n_objects, k AS k_judges, tt AS tie_term,
      |  CASE WHEN n < 2 OR wden <= 0 OR k_min <> k THEN NULL
      |    ELSE ROUND(wnum / wden, 6) + 0 END AS kendall_w,
      |  CASE WHEN n < 2 OR wden <= 0 OR k_min <> k THEN NULL
      |    ELSE ROUND(CAST(k AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)
      |      * wnum / wden, 4) + 0 END AS friedman_chi2
      |FROM f""".stripMargin


  /** L231 Cronbach's α internal-consistency reliability ([PK] Cronbach
    * 1951): do four integer "document richness" items — char-length
    * decile (≤10), token-count score, stopword-count score,
    * sentence-mark score — measure ONE underlying construct? The
    * interval-scale reliability coefficient next to the nominal
    * agreement family (κ q183/q274, α_K q282): those score RATERS on a
    * shared verdict; Cronbach scores ITEMS on a shared latent scale,
    * the pre-flight for combining sub-scores into one quality number
    * (q162's composite implicitly assumes this).
    *
    * α = k/(k−1) · (1 − Σᵢ Var(itemᵢ) / Var(Σᵢ itemᵢ)); with every
    * item an exact small integer, each variance is the exact-integer
    * form n·ΣX² − (ΣX)² (the common n²/(n(n−1)) factor cancels in the
    * ratio), so α is ONE double division + affine map from exact
    * DECIMAL sums, floor-quantized 1e-6. The variance-share ratio is
    * reported alongside; Σvar < var_total (positive average
    * inter-item covariance) is the non-degeneracy invariant.
    *
    * Scale: one per-doc map (4 integer screens) + one
    * map-side-combinable agg — no joins, no windows, no broadcasts.
    * Guards: var_total ≤ 0 (constant totals) → null α. */
  def q297CronbachAlpha(s: SparkSession, dir: String): DataFrame = {
    val stop = typedlit(Seq("the", "a", "of", "and", "to", "in", "is",
      "on"))
    val d = Tables.documents(s, dir).select(
      least(floor(col("n_chars") / 100.0), lit(10L)).as("i1"),
      least(floor(size(tokens(col("text"))) / 20.0), lit(10L)).as("i2"),
      least(floor(size(filter(tokens(col("text")),
        t => array_contains(stop, t))) / 5.0), lit(10L)).as("i3"),
      least(floor((length(col("text")) -
        length(regexp_replace(col("text"), "\\.", ""))) / 2.0),
        lit(10L)).as("i4"))
      .withColumn("t", col("i1") + col("i2") + col("i3") + col("i4"))
    val a = d.agg(count(lit(1)).as("n"),
      sum(col("i1")).as("s1"), sum(col("i1").cast(dec) * col("i1")).as("q1"),
      sum(col("i2")).as("s2"), sum(col("i2").cast(dec) * col("i2")).as("q2"),
      sum(col("i3")).as("s3"), sum(col("i3").cast(dec) * col("i3")).as("q3"),
      sum(col("i4")).as("s4"), sum(col("i4").cast(dec) * col("i4")).as("q4"),
      sum(col("t")).as("st"), sum(col("t").cast(dec) * col("t")).as("qt"))
    val nDec = col("n").cast(dec)
    def v(sc: Column, qc: Column): Column = nDec * qc - sc.cast(dec) * sc
    val sumVar = v(col("s1"), col("q1")) + v(col("s2"), col("q2")) +
      v(col("s3"), col("q3")) + v(col("s4"), col("q4"))
    val varT = v(col("st"), col("qt"))
    val ratio = sumVar.cast("double") / varT.cast("double")
    val bad = col("n") < 2L || varT <= lit(0L).cast(dec)
    a.select(col("n").cast("long").as("n_docs"),
      lit(4L).as("k_items"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(ratio, 6)).as("var_share"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(lit(4.0) / 3.0 * (lit(1.0) - ratio),
          6)).as("cronbach_alpha"))
  }


  val q297CronbachAlphaSql: String =
    """WITH d AS (
      |  SELECT
      |    LEAST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 10) AS i1,
      |    LEAST(CAST(FLOOR(len(string_split(text, ' ')) / 20.0) AS BIGINT),
      |      10) AS i2,
      |    LEAST(CAST(FLOOR(len(list_filter(string_split(text, ' '),
      |      t -> list_contains(['the','a','of','and','to','in','is','on'],
      |      t))) / 5.0) AS BIGINT), 10) AS i3,
      |    LEAST(CAST(FLOOR((len(text) - len(replace(text, '.', '')))
      |      / 2.0) AS BIGINT), 10) AS i4
      |  FROM documents),
      |dt AS (SELECT i1, i2, i3, i4, i1 + i2 + i3 + i4 AS t FROM d),
      |a AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(i1) AS BIGINT) AS s1,
      |    CAST(SUM(CAST(i1 AS HUGEINT) * i1) AS HUGEINT) AS q1,
      |    CAST(SUM(i2) AS BIGINT) AS s2,
      |    CAST(SUM(CAST(i2 AS HUGEINT) * i2) AS HUGEINT) AS q2,
      |    CAST(SUM(i3) AS BIGINT) AS s3,
      |    CAST(SUM(CAST(i3 AS HUGEINT) * i3) AS HUGEINT) AS q3,
      |    CAST(SUM(i4) AS BIGINT) AS s4,
      |    CAST(SUM(CAST(i4 AS HUGEINT) * i4) AS HUGEINT) AS q4,
      |    CAST(SUM(t) AS BIGINT) AS st,
      |    CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS qt
      |  FROM dt),
      |c0 AS (
      |  SELECT n,
      |    CAST((CAST(n AS HUGEINT) * q1 - CAST(s1 AS HUGEINT) * s1)
      |      + (CAST(n AS HUGEINT) * q2 - CAST(s2 AS HUGEINT) * s2)
      |      + (CAST(n AS HUGEINT) * q3 - CAST(s3 AS HUGEINT) * s3)
      |      + (CAST(n AS HUGEINT) * q4 - CAST(s4 AS HUGEINT) * s4)
      |      AS DOUBLE)
      |      / CAST(CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st
      |        AS DOUBLE) AS ratio,
      |    CAST(n AS HUGEINT) * qt - CAST(st AS HUGEINT) * st AS vt
      |  FROM a)
      |SELECT n AS n_docs, CAST(4 AS BIGINT) AS k_items,
      |  CASE WHEN n < 2 OR vt <= 0 THEN NULL
      |    ELSE FLOOR(ratio * 1e6 + 0.5) / 1e6 END AS var_share,
      |  CASE WHEN n < 2 OR vt <= 0 THEN NULL
      |    ELSE FLOOR(4.0 / 3.0 * (1.0 - ratio) * 1e6 + 0.5) / 1e6 END
      |    AS cronbach_alpha
      |FROM c0""".stripMargin


  /** L234 intraclass correlation ICC(2,1)/(2,k)/(3,1) ([PK] Shrout &
    * Fleiss 1979; McGraw & Wong 1996): the two-way ANOVA reliability
    * decomposition over the SAME 4-item richness table as q297 —
    * Cronbach's α answers "is the item SUM reliable"; the ICCs answer
    * "is a SINGLE item interchangeable with another" (ICC(2,1), items
    * as random draws), "is the 4-item average reliable under that
    * model" (ICC(2,k)), and "how consistent are single items ignoring
    * their level offsets" (ICC(3,1)). ICC(3,k) ≡ Cronbach's α — that
    * identity is pinned cross-query by NonDegeneracySpec against
    * q297's output.
    *
    * Construction: each doc is one row, so ALL sums are map-side — n,
    * ΣΣx² (Q), Σ_d rowsum² (R2, computed per-row before the agg), and
    * the 4 column sums; SS_rows = R2/k − G²/(nk), SS_cols = ΣC²/n −
    * G²/(nk), SS_e by subtraction, then the Shrout–Fleiss forms are
    * one deterministic double chain from the exact DECIMAL sums, 6dp.
    * No joins, no windows — ONE agg at any scale.
    *
    * Guards: n < 2 or zero between-doc mean square → null. */
  def q301Icc(s: SparkSession, dir: String): DataFrame = {
    val stop = typedlit(Seq("the", "a", "of", "and", "to", "in", "is",
      "on"))
    val d = Tables.documents(s, dir).select(
      least(floor(col("n_chars") / 100.0), lit(10L)).as("i1"),
      least(floor(size(tokens(col("text"))) / 20.0), lit(10L)).as("i2"),
      least(floor(size(filter(tokens(col("text")),
        t => array_contains(stop, t))) / 5.0), lit(10L)).as("i3"),
      least(floor((length(col("text")) -
        length(regexp_replace(col("text"), "\\.", ""))) / 2.0),
        lit(10L)).as("i4"))
      .withColumn("t", col("i1") + col("i2") + col("i3") + col("i4"))
    val a = d.agg(count(lit(1)).as("n"),
      sum(col("t")).as("g"),
      sum(col("t").cast(dec) * col("t")).as("r2"),
      (sum(col("i1").cast(dec) * col("i1")) +
        sum(col("i2").cast(dec) * col("i2")) +
        sum(col("i3").cast(dec) * col("i3")) +
        sum(col("i4").cast(dec) * col("i4"))).as("q"),
      sum(col("i1")).as("c1"), sum(col("i2")).as("c2"),
      sum(col("i3")).as("c3"), sum(col("i4")).as("c4"))
    val k = lit(4.0)
    val n = col("n").cast("double")
    val g = col("g").cast("double")
    val cm = g * g / (n * k) // correction for the mean, G²/(nk)
    val ssr = col("r2").cast("double") / k - cm
    val ssc = (col("c1").cast("double") * col("c1").cast("double") +
      col("c2").cast("double") * col("c2").cast("double") +
      col("c3").cast("double") * col("c3").cast("double") +
      col("c4").cast("double") * col("c4").cast("double")) / n - cm
    val sst = col("q").cast("double") - cm
    val sse = sst - ssr - ssc
    val msr = ssr / (n - 1.0)
    val msc = ssc / (k - 1.0)
    val mse = sse / ((n - 1.0) * (k - 1.0))
    val icc21 = (msr - mse) /
      (msr + (k - 1.0) * mse + k * (msc - mse) / n)
    val icc2k = (msr - mse) / (msr + (msc - mse) / n)
    val icc31 = (msr - mse) / (msr + (k - 1.0) * mse)
    val icc3k = (msr - mse) / msr
    val bad = col("n") < 2L || msr <= 0.0
    def out(c: Column, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(c, 6)).as(nm)
    a.select(col("n").cast("long").as("n_docs"),
      out(msr, "ms_rows"), out(msc, "ms_cols"), out(mse, "ms_err"),
      out(icc21, "icc_2_1"), out(icc2k, "icc_2_k"),
      out(icc31, "icc_3_1"), out(icc3k, "icc_3_k"))
  }


  /** L246 Gwet's AC1 chance-corrected agreement ([PK] Gwet 2008): the
    * prevalence-robust member of the agreement family over the SAME
    * three-screen rater ensemble as Fleiss' κ (q274) and
    * Krippendorff's α (q282). κ and α compute chance agreement from
    * the OBSERVED category prevalence, so a skewed corpus (π ≈ 0.91
    * "good" here) makes chance ≈ 0.84 and crushes κ even when raters
    * almost always agree — the "kappa paradox". AC1's chance model
    * uses 2π(1−π) (the probability BOTH raters guess the rare
    * category at random), which stays small under skew; on this
    * fixture AC1 ≈ 0.91 while κ sits far lower — the gap is pinned
    * cross-query, making the paradox itself the executable invariant.
    *
    * Parity: Pa and π are exact int64 ratios (pair-agreement counts
    * g(g−1)/2 + (3−g)(2−g)/2 per doc); AC1 is one double chain from
    * the exact sums, 6dp.
    *
    * Scale: one map-side-combinable agg — no joins, no windows. */
  def q310GwetAc1(s: SparkSession, dir: String): DataFrame = {
    val a = raters(s, dir).agg(count(lit(1)).as("n"),
      sum(col("g")).as("gg"),
      // g(g−1)/2 + (3−g)(2−g)/2 simplifies to g²−3g+3 — integer exact
      sum(col("g") * col("g") - col("g") * 3L + 3L).as("agr"))
    val n = col("n").cast("double")
    val pa = col("agr").cast("double") / (n * 3.0)
    val pi = col("gg").cast("double") / (n * 3.0)
    val pe = lit(2.0) * pi * (lit(1.0) - pi)
    val bad = col("n") < 2L || pe >= 1.0
    def out(c: Column, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(round(c, 6) + 0.0).as(nm)
    a.select(col("n").cast("long").as("n_docs"),
      out(pa, "p_agree"), out(pi, "prevalence"), out(pe, "p_chance"),
      out((pa - pe) / (lit(1.0) - pe), "gwet_ac1"))
  }


  val q310GwetAc1Sql: String =
    """WITH d AS (
      |  SELECT
      |    (CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END)
      |    + (CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0
      |       END)
      |    + (CASE WHEN len(list_intersect(string_split(text, ' '),
      |        ['the','a','of','and','to','in','is','on'])) > 0
      |       THEN 1 ELSE 0 END) AS g
      |  FROM documents),
      |a AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(g) AS BIGINT) AS gg,
      |    CAST(SUM(g * g - g * 3 + 3) AS BIGINT) AS agr
      |  FROM d),
      |c0 AS (
      |  SELECT n,
      |    CAST(agr AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0) AS pa,
      |    CAST(gg AS DOUBLE) / (CAST(n AS DOUBLE) * 3.0) AS pi
      |  FROM a),
      |c1 AS (
      |  SELECT n, pa, pi, 2.0 * pi * (1.0 - pi) AS pe FROM c0)
      |SELECT n AS n_docs,
      |  CASE WHEN n < 2 OR pe >= 1 THEN NULL
      |    ELSE ROUND(pa, 6) + 0 END AS p_agree,
      |  CASE WHEN n < 2 OR pe >= 1 THEN NULL
      |    ELSE ROUND(pi, 6) + 0 END AS prevalence,
      |  CASE WHEN n < 2 OR pe >= 1 THEN NULL
      |    ELSE ROUND(pe, 6) + 0 END AS p_chance,
      |  CASE WHEN n < 2 OR pe >= 1 THEN NULL
      |    ELSE ROUND((pa - pe) / (1.0 - pe), 6) + 0 END AS gwet_ac1
      |FROM c1""".stripMargin


  val q301IccSql: String =
    """WITH d AS (
      |  SELECT
      |    LEAST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 10) AS i1,
      |    LEAST(CAST(FLOOR(len(string_split(text, ' ')) / 20.0) AS BIGINT),
      |      10) AS i2,
      |    LEAST(CAST(FLOOR(len(list_filter(string_split(text, ' '),
      |      t -> list_contains(['the','a','of','and','to','in','is','on'],
      |      t))) / 5.0) AS BIGINT), 10) AS i3,
      |    LEAST(CAST(FLOOR((len(text) - len(replace(text, '.', '')))
      |      / 2.0) AS BIGINT), 10) AS i4
      |  FROM documents),
      |dt AS (SELECT *, i1 + i2 + i3 + i4 AS t FROM d),
      |a AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(t) AS BIGINT) AS g,
      |    CAST(SUM(CAST(t AS HUGEINT) * t) AS HUGEINT) AS r2,
      |    CAST(SUM(CAST(i1 AS HUGEINT) * i1) + SUM(CAST(i2 AS HUGEINT) * i2)
      |      + SUM(CAST(i3 AS HUGEINT) * i3) + SUM(CAST(i4 AS HUGEINT) * i4)
      |      AS HUGEINT) AS q,
      |    CAST(SUM(i1) AS BIGINT) AS c1, CAST(SUM(i2) AS BIGINT) AS c2,
      |    CAST(SUM(i3) AS BIGINT) AS c3, CAST(SUM(i4) AS BIGINT) AS c4
      |  FROM dt),
      |s AS (
      |  SELECT n,
      |    CAST(r2 AS DOUBLE) / 4.0
      |      - CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * 4.0) AS ssr,
      |    (CAST(c1 AS DOUBLE) * CAST(c1 AS DOUBLE)
      |      + CAST(c2 AS DOUBLE) * CAST(c2 AS DOUBLE)
      |      + CAST(c3 AS DOUBLE) * CAST(c3 AS DOUBLE)
      |      + CAST(c4 AS DOUBLE) * CAST(c4 AS DOUBLE)) / CAST(n AS DOUBLE)
      |      - CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * 4.0) AS ssc,
      |    CAST(q AS DOUBLE)
      |      - CAST(g AS DOUBLE) * CAST(g AS DOUBLE)
      |        / (CAST(n AS DOUBLE) * 4.0) AS sst
      |  FROM a),
      |ms AS (
      |  SELECT n,
      |    ssr / (CAST(n AS DOUBLE) - 1.0) AS msr,
      |    ssc / 3.0 AS msc,
      |    (sst - ssr - ssc) / ((CAST(n AS DOUBLE) - 1.0) * 3.0) AS mse
      |  FROM s)
      |SELECT n AS n_docs,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR(msr * 1e6 + 0.5) / 1e6 END AS ms_rows,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR(msc * 1e6 + 0.5) / 1e6 END AS ms_cols,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR(mse * 1e6 + 0.5) / 1e6 END AS ms_err,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR((msr - mse)
      |      / (msr + 3.0 * mse + 4.0 * (msc - mse) / CAST(n AS DOUBLE))
      |      * 1e6 + 0.5) / 1e6 END AS icc_2_1,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR((msr - mse)
      |      / (msr + (msc - mse) / CAST(n AS DOUBLE)) * 1e6 + 0.5) / 1e6
      |    END AS icc_2_k,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR((msr - mse) / (msr + 3.0 * mse) * 1e6 + 0.5) / 1e6
      |    END AS icc_3_1,
      |  CASE WHEN n < 2 OR msr <= 0 THEN NULL
      |    ELSE FLOOR((msr - mse) / msr * 1e6 + 0.5) / 1e6 END AS icc_3_k
      |FROM ms""".stripMargin


  /** L309 Bland–Altman agreement analysis ([PK] Bland & Altman 1986)
    * — THE method-comparison readout correlation gets wrong (two
    * systems can correlate at 0.99 and still disagree by a constant
    * bias): two measurements of daily business volume — order-dated
    * revenue (orders) vs ship-dated gross revenue (lineitem) — give
    * per-day differences; published: the bias (mean difference), the
    * SD of differences, the 95% limits of agreement bias ± 1.96·SD,
    * and the observed fraction outside them (≈ 4.5% at both SFs —
    * the nominal-coverage honesty check, asserted in the spec).
    *
    * Parity: daily sums exact cents; Σd and Σd² exact
    * DECIMAL(38)/HUGEINT; bias/SD/LoA one fixed double chain with
    * one terminal sqrt; the outside-count compares exact ints
    * against the quantized LoA bounds (4dp — both engines compare
    * identical doubles), so the count is integer-deterministic.
    *
    * Scale: two fact-scan day rollups, one broadcast-joinable
    * ≤|days| frame, ONE moment agg + one bounded recount. 1 row. */
  def q374BlandAltman(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("va"))
    val b = Tables.lineitem(s, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(Parity.quant(col("l_extendedprice"), 100.0))
        .as("vb"))
    val dec = "decimal(38,0)"
    val diffs = a.join(b, Seq("day"))
      .select((col("va") - col("vb")).as("d"))
    val m = diffs.agg(count(lit(1)).as("n"),
      sum(col("d").cast(dec)).as("sd1"),
      sum((col("d") * col("d")).cast(dec)).as("sd2"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    val bias = dd("sd1") / greatest(n, lit(1e-300))
    val sdev = sqrt(greatest((n * dd("sd2") - dd("sd1") * dd("sd1")) /
      greatest(n * (n - 1.0), lit(1e-300)), lit(0.0)))
    val stats = m.select(col("n").as("n_days"),
      Parity.fix(bias, 4).as("bias_cents"), Parity.fix(sdev, 4).as("sd_cents"),
      Parity.fix(bias - lit(1.96) * sdev, 4).as("loa_lo"),
      Parity.fix(bias + lit(1.96) * sdev, 4).as("loa_hi"))
    val out = diffs.crossJoin(broadcast(stats))
      .groupBy("n_days", "bias_cents", "sd_cents", "loa_lo", "loa_hi")
      .agg(sum(when(col("d").cast("double") < col("loa_lo") ||
        col("d").cast("double") > col("loa_hi"), 1L).otherwise(0L))
        .as("n_outside"))
    val bad = col("n_days") < 10L || col("sd_cents") <= 0.0
    out.select(col("n_days"),
      when(bad, lit(null).cast("double")).otherwise(col("bias_cents"))
        .as("bias_cents"),
      when(bad, lit(null).cast("double")).otherwise(col("sd_cents"))
        .as("sd_cents"),
      when(bad, lit(null).cast("double")).otherwise(col("loa_lo"))
        .as("loa_lo"),
      when(bad, lit(null).cast("double")).otherwise(col("loa_hi"))
        .as("loa_hi"),
      when(bad, lit(null).cast("long")).otherwise(col("n_outside"))
        .as("n_outside"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(col("n_outside").cast("double") /
          col("n_days").cast("double"), 4)).as("pct_outside"))
  }


  val q374BlandAltmanSql: String =
    """WITH a AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS va
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT CAST(l_shipdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS vb
      |  FROM lineitem GROUP BY 1),
      |diffs AS (SELECT va - vb AS d FROM a JOIN b USING (day)),
      |m AS (
      |  SELECT COUNT(*) AS n, SUM(CAST(d AS HUGEINT)) AS sd1,
      |    SUM(CAST(d AS HUGEINT) * CAST(d AS HUGEINT)) AS sd2
      |  FROM diffs),
      |st AS (
      |  SELECT CAST(n AS BIGINT) AS n_days,
      |    FLOOR(CAST(sd1 AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1e-300)
      |      * 1e4 + 0.5) / 1e4 + 0 AS bias_cents,
      |    FLOOR(sqrt(GREATEST((CAST(n AS DOUBLE) * CAST(sd2 AS DOUBLE)
      |        - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
      |      / GREATEST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0),
      |        1e-300), 0.0)) * 1e4 + 0.5) / 1e4 + 0 AS sd_cents,
      |    FLOOR((CAST(sd1 AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1e-300)
      |      - 1.96 * sqrt(GREATEST((CAST(n AS DOUBLE)
      |          * CAST(sd2 AS DOUBLE)
      |        - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
      |      / GREATEST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0),
      |        1e-300), 0.0))) * 1e4 + 0.5) / 1e4 + 0 AS loa_lo,
      |    FLOOR((CAST(sd1 AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1e-300)
      |      + 1.96 * sqrt(GREATEST((CAST(n AS DOUBLE)
      |          * CAST(sd2 AS DOUBLE)
      |        - CAST(sd1 AS DOUBLE) * CAST(sd1 AS DOUBLE))
      |      / GREATEST(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0),
      |        1e-300), 0.0))) * 1e4 + 0.5) / 1e4 + 0 AS loa_hi
      |  FROM m),
      |cnt AS (
      |  SELECT n_days, bias_cents, sd_cents, loa_lo, loa_hi,
      |    CAST(SUM(CASE WHEN CAST(d AS DOUBLE) < loa_lo
      |      OR CAST(d AS DOUBLE) > loa_hi THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_outside
      |  FROM diffs CROSS JOIN st
      |  GROUP BY n_days, bias_cents, sd_cents, loa_lo, loa_hi)
      |SELECT n_days,
      |  CASE WHEN n_days < 10 OR sd_cents <= 0.0 THEN NULL
      |    ELSE bias_cents END AS bias_cents,
      |  CASE WHEN n_days < 10 OR sd_cents <= 0.0 THEN NULL
      |    ELSE sd_cents END AS sd_cents,
      |  CASE WHEN n_days < 10 OR sd_cents <= 0.0 THEN NULL
      |    ELSE loa_lo END AS loa_lo,
      |  CASE WHEN n_days < 10 OR sd_cents <= 0.0 THEN NULL
      |    ELSE loa_hi END AS loa_hi,
      |  CASE WHEN n_days < 10 OR sd_cents <= 0.0 THEN NULL
      |    ELSE n_outside END AS n_outside,
      |  CASE WHEN n_days < 10 OR sd_cents <= 0.0 THEN NULL
      |    ELSE FLOOR(CAST(n_outside AS DOUBLE) / n_days * 1e4 + 0.5)
      |      / 1e4 + 0 END AS pct_outside
      |FROM cnt""".stripMargin


  /** L310 weighted-kappa ladder ([PK] Cohen 1968) — ordinal
    * agreement where the PENALTY for a disagreement grows with its
    * distance: two tier assignments of every document (terciles by
    * character count vs terciles by token count — two real proxies
    * for "document size class") cross-tabulated 3×3; published
    * beside each other: unweighted κ (all disagreements equal),
    * linear-weight κ (1 − |i−j|/2), quadratic-weight κ
    * (1 − (i−j)²/4). Near-diagonal disagreement makes the ladder
    * strictly increase (0.940 < 0.955 < 0.970 at sf0.001) — the
    * "weighting matters" readout for ordinal labels.
    *
    * Parity: every κ is an EXACT integer ratio — scaling by 4n²
    * (quadratic), 2n² (linear), n² (unweighted) clears all
    * denominators: κ_q = (n·P_q − E_q)/(4n² − E_q) with
    * P_q = Σn_ij(4−(i−j)²), E_q = Σr_i·c_j(4−(i−j)²) all int64 —
    * one IEEE division each, 6dp. NTILE(3) over the deterministic
    * (size, doc_id) order is identical in both engines (same
    * larger-first remainder rule).
    *
    * Scale: two rank windows over the corpus (at 100 TB: the
    * RangedNtile machinery — L35), a 9-cell census, 1-row output. */
  def q375WeightedKappa(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val t = d.select(col("doc_id"),
      ntile(3).over(Window.orderBy(col("n_chars"), col("doc_id")))
        .cast("long").as("ra"),
      ntile(3).over(Window.orderBy(size(split(col("text"), " ")),
        col("doc_id"))).cast("long").as("rb"))
    val cells = t.groupBy("ra", "rb").agg(count(lit(1)).as("c"))
    val m = cells.agg(
      sum(col("c")).as("n"),
      sum(when(col("ra") === col("rb"), col("c")).otherwise(0L))
        .as("p0"),
      sum(col("c") * (lit(2L) - abs(col("ra") - col("rb")))).as("pl"),
      sum(col("c") * (lit(4L) -
        (col("ra") - col("rb")) * (col("ra") - col("rb")))).as("pq"))
    // chance mass needs the full r_i x c_j cross — 3x3, broadcast-tiny
    val rr = cells.groupBy("ra").agg(sum(col("c")).as("r"))
    val ccb = cells.groupBy("rb").agg(sum(col("c")).as("cc"))
    val cross = rr.crossJoin(broadcast(ccb))
      .agg(sum(when(col("ra") === col("rb"), col("r") * col("cc"))
          .otherwise(0L)).as("e0"),
        sum(col("r") * col("cc") *
          (lit(2L) - abs(col("ra") - col("rb")))).as("el"),
        sum(col("r") * col("cc") * (lit(4L) -
          (col("ra") - col("rb")) * (col("ra") - col("rb")))).as("eq"))
    def dd(c: Column) = c.cast("double")
    val j = m.crossJoin(broadcast(cross))
    val n = col("n")
    val bad = n < 10L || (n * n - col("e0")) === 0L ||
      (lit(2L) * n * n - col("el")) === 0L ||
      (lit(4L) * n * n - col("eq")) === 0L
    def guard(c: Column) = when(bad, lit(null).cast("double"))
      .otherwise(c)
    j.select(col("n").as("n_docs"),
      guard(Parity.fix(dd(col("p0")) / greatest(dd(n), lit(1e-300)), 6))
        .as("po"),
      guard(Parity.fix(dd(n * col("p0") - col("e0")) /
        greatest(dd(n * n - col("e0")), lit(1e-300)), 6)).as("kappa"),
      guard(Parity.fix(dd(n * col("pl") - col("el")) /
        greatest(dd(lit(2L) * n * n - col("el")), lit(1e-300)), 6))
        .as("kappa_lin"),
      guard(Parity.fix(dd(n * col("pq") - col("eq")) /
        greatest(dd(lit(4L) * n * n - col("eq")), lit(1e-300)), 6))
        .as("kappa_quad"))
  }


  val q375WeightedKappaSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(NTILE(3) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
      |      AS ra,
      |    CAST(NTILE(3) OVER (ORDER BY len(string_split(text, ' ')),
      |      doc_id) AS BIGINT) AS rb
      |  FROM documents),
      |cells AS (SELECT ra, rb, COUNT(*) AS c FROM t GROUP BY ra, rb),
      |m AS (
      |  SELECT CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN ra = rb THEN c ELSE 0 END) AS BIGINT)
      |      AS p0,
      |    CAST(SUM(c * (2 - ABS(ra - rb))) AS BIGINT) AS pl,
      |    CAST(SUM(c * (4 - (ra - rb) * (ra - rb))) AS BIGINT) AS pq
      |  FROM cells),
      |rr AS (SELECT ra, CAST(SUM(c) AS BIGINT) AS r FROM cells
      |  GROUP BY ra),
      |ccb AS (SELECT rb, CAST(SUM(c) AS BIGINT) AS cc FROM cells
      |  GROUP BY rb),
      |cross_t AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN ra = rb THEN r * cc ELSE 0 END) AS BIGINT)
      |      AS e0,
      |    CAST(SUM(r * cc * (2 - ABS(ra - rb))) AS BIGINT) AS el,
      |    CAST(SUM(r * cc * (4 - (ra - rb) * (ra - rb))) AS BIGINT)
      |      AS eq
      |  FROM rr CROSS JOIN ccb),
      |f AS (
      |  SELECT n, p0, pl, pq, e0, el, eq,
      |    (n < 10 OR n * n - e0 = 0 OR 2 * n * n - el = 0
      |      OR 4 * n * n - eq = 0) AS bad
      |  FROM m CROSS JOIN cross_t)
      |SELECT n AS n_docs,
      |  CASE WHEN bad THEN NULL ELSE
      |    FLOOR(CAST(p0 AS DOUBLE) / GREATEST(CAST(n AS DOUBLE), 1e-300)
      |      * 1e6 + 0.5) / 1e6 + 0 END AS po,
      |  CASE WHEN bad THEN NULL ELSE
      |    FLOOR(CAST(n * p0 - e0 AS DOUBLE)
      |      / GREATEST(CAST(n * n - e0 AS DOUBLE), 1e-300) * 1e6 + 0.5)
      |      / 1e6 + 0 END AS kappa,
      |  CASE WHEN bad THEN NULL ELSE
      |    FLOOR(CAST(n * pl - el AS DOUBLE)
      |      / GREATEST(CAST(2 * n * n - el AS DOUBLE), 1e-300)
      |      * 1e6 + 0.5) / 1e6 + 0 END AS kappa_lin,
      |  CASE WHEN bad THEN NULL ELSE
      |    FLOOR(CAST(n * pq - eq AS DOUBLE)
      |      / GREATEST(CAST(4 * n * n - eq AS DOUBLE), 1e-300)
      |      * 1e6 + 0.5) / 1e6 + 0 END AS kappa_quad
      |FROM f""".stripMargin

  /** L321 Scott's π vs Cohen's κ *(added r17; [PK] Scott 1955;
    * Cohen 1960)* — the CHANCE-MODEL contrast the agreement family
    * was missing: for each of the three rater pairs, the same
    * observed agreement p_o is corrected by TWO different chance
    * models — Cohen's (each rater's own marginal: p_e = p₁p₂ +
    * q₁q₂) and Scott's (the POOLED marginal both raters are assumed
    * to share: p_e = p̄² + q̄², the 2-rater root of Fleiss' κ —
    * q274). The gap κ − π is the classic marginal-asymmetry readout:
    * identical marginals → identical statistics; diverging screen
    * base rates pull π below κ (Scott's pooled model is always ≥
    * Cohen's p_e by AM-GM, so π ≤ κ — pinned in NonDegeneracySpec).
    *
    * Parity: agreement and marginal counts are exact int64 censuses;
    * κ, π, and the gap are each ONE identical double chain on exact
    * integer ratios, 6dp.
    *
    * Scale: one fact scan → 3-rater per-doc verdicts → a single
    * 8-cell (r1, r2, r3) census hash agg (map-side combinable);
    * everything after is ≤8-row algebra exploded to 3 pair rows. */
  def q386ScottPi(s: SparkSession, dir: String): DataFrame = {
    val cen = raters(s, dir).groupBy("r1", "r2", "r3")
      .agg(count(lit(1)).as("n"))
    val pairs = cen.withColumn("pair",
        explode(array(lit("r1_r2"), lit("r1_r3"), lit("r2_r3"))))
      .withColumn("a", when(col("pair") === "r1_r2", col("r1"))
        .when(col("pair") === "r1_r3", col("r1")).otherwise(col("r2")))
      .withColumn("b", when(col("pair") === "r1_r2", col("r2"))
        .when(col("pair") === "r1_r3", col("r3")).otherwise(col("r3")))
      .groupBy("pair")
      .agg(sum(col("n")).as("nt"),
        sum(when(col("a") === col("b"), col("n")).otherwise(0L)).as("ao"),
        sum(col("a") * col("n")).as("m1"),
        sum(col("b") * col("n")).as("m2"))
    def d(c: Column) = c.cast("double")
    val nt = d(col("nt"))
    val po = d(col("ao")) / nt
    val (p1, p2) = (d(col("m1")) / nt, d(col("m2")) / nt)
    val peC = p1 * p2 + (lit(1.0) - p1) * (lit(1.0) - p2)
    val pBar = (p1 + p2) / 2.0
    val peS = pBar * pBar + (lit(1.0) - pBar) * (lit(1.0) - pBar)
    pairs.select(col("pair"), col("nt").as("n_docs"),
        Parity.fix(po, 6).as("p_obs"),
        Parity.fix((po - peC) / greatest(lit(1.0) - peC, lit(1e-300)), 6)
          .as("kappa"),
        Parity.fix((po - peS) / greatest(lit(1.0) - peS, lit(1e-300)), 6)
          .as("scott_pi"),
        Parity.fix((po - peC) / greatest(lit(1.0) - peC, lit(1e-300)) -
          (po - peS) / greatest(lit(1.0) - peS, lit(1e-300)), 6)
          .as("kappa_minus_pi"))
      .orderBy("pair")
  }

  val q386ScottPiSql: String =
    """WITH r AS (
      |  SELECT CASE WHEN n_chars >= 100 THEN 1 ELSE 0 END AS r1,
      |    CASE WHEN len(string_split(text, ' ')) >= 20 THEN 1 ELSE 0 END
      |      AS r2,
      |    CASE WHEN len(list_intersect(string_split(text, ' '),
      |      ['the', 'a', 'of', 'and', 'to', 'in', 'is', 'on'])) > 0
      |      THEN 1 ELSE 0 END AS r3
      |  FROM documents),
      |cen AS (
      |  SELECT r1, r2, r3, COUNT(*) AS n FROM r GROUP BY r1, r2, r3),
      |p AS (
      |  SELECT pair,
      |    CASE pair WHEN 'r1_r2' THEN r1 WHEN 'r1_r3' THEN r1
      |      ELSE r2 END AS a,
      |    CASE pair WHEN 'r1_r2' THEN r2 WHEN 'r1_r3' THEN r3
      |      ELSE r3 END AS b,
      |    n
      |  FROM cen CROSS JOIN
      |    (VALUES ('r1_r2'), ('r1_r3'), ('r2_r3')) tp(pair)),
      |g AS (
      |  SELECT pair, CAST(SUM(n) AS BIGINT) AS nt,
      |    CAST(SUM(CASE WHEN a = b THEN n ELSE 0 END) AS BIGINT) AS ao,
      |    CAST(SUM(a * n) AS BIGINT) AS m1,
      |    CAST(SUM(b * n) AS BIGINT) AS m2
      |  FROM p GROUP BY pair),
      |f AS (
      |  SELECT pair, nt,
      |    CAST(ao AS DOUBLE) / nt AS po,
      |    CAST(m1 AS DOUBLE) / nt AS p1,
      |    CAST(m2 AS DOUBLE) / nt AS p2
      |  FROM g),
      |f2 AS (
      |  SELECT pair, nt, po,
      |    p1 * p2 + (1.0 - p1) * (1.0 - p2) AS pec,
      |    ((p1 + p2) / 2.0) * ((p1 + p2) / 2.0)
      |      + (1.0 - (p1 + p2) / 2.0) * (1.0 - (p1 + p2) / 2.0) AS pes
      |  FROM f)
      |SELECT pair, nt AS n_docs,
      |  FLOOR(po * 1e6 + 0.5) / 1e6 + 0 AS p_obs,
      |  FLOOR((po - pec) / GREATEST(1.0 - pec, 1e-300) * 1e6 + 0.5)
      |    / 1e6 + 0 AS kappa,
      |  FLOOR((po - pes) / GREATEST(1.0 - pes, 1e-300) * 1e6 + 0.5)
      |    / 1e6 + 0 AS scott_pi,
      |  FLOOR(((po - pec) / GREATEST(1.0 - pec, 1e-300)
      |    - (po - pes) / GREATEST(1.0 - pes, 1e-300)) * 1e6 + 0.5)
      |    / 1e6 + 0 AS kappa_minus_pi
      |FROM f2 ORDER BY pair""".stripMargin

  /** L329 Lin's concordance correlation coefficient *(added r17;
    * [PK] Lin 1989)* — the CONTINUOUS-scale agreement coefficient
    * beside q374's Bland–Altman limits, on two daily measures of
    * the same flow (net order revenue vs gross pre-discount/tax
    * lineitem revenue, both on order date): CCC =
    * 2s_xy/(s_x² + s_y² + (x̄−ȳ)²) penalizes both scatter AND the
    * systematic shift Pearson's r is blind to — published as the
    * (r, C_b, CCC) triple with CCC = r·C_b, so the decomposition
    * says whether disagreement is noise (r < 1) or bias (C_b < 1).
    * CCC ≤ r always — pinned in NonDegeneracySpec.
    *
    * Parity: all five moments are exact DECIMAL(38)/HUGEINT sums of
    * exact cents; CCC/r/C_b are each one identical double chain
    * (population-moment convention, Lin's original), 6dp.
    *
    * Scale: two map-side day rollups joined on the scale-constant
    * day census; one 1-row moment agg; no windows. */
  def q394LinCcc(s: SparkSession, dir: String): DataFrame = {
    val a = Tables.orders(s, dir)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Parity.quant(col("o_totalprice"), 100.0))
        .as("va"))
    val b = Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_orderdate")), col("l_orderkey") === col("o_orderkey"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(Parity.quant(col("l_extendedprice"), 100.0))
        .as("vb"))
    val m = a.join(b, Seq("day")).agg(count(lit(1)).as("n"),
      sum(col("va").cast(dec)).as("sx"),
      sum(col("vb").cast(dec)).as("sy"),
      sum(col("va").cast(dec) * col("va").cast(dec)).as("sxx"),
      sum(col("vb").cast(dec) * col("vb").cast(dec)).as("syy"),
      sum(col("va").cast(dec) * col("vb").cast(dec)).as("sxy"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    val (mx, my) = (dd("sx") / n, dd("sy") / n)
    val vx = dd("sxx") / n - mx * mx
    val vy = dd("syy") / n - my * my
    val cxy = dd("sxy") / n - mx * my
    val ccc = lit(2.0) * cxy /
      greatest(vx + vy + (mx - my) * (mx - my), lit(1e-300))
    val r = cxy / greatest(sqrt(greatest(vx, lit(0.0))) *
      sqrt(greatest(vy, lit(0.0))), lit(1e-300))
    m.select(col("n").as("n_days"), Parity.fix(r, 6).as("pearson_r"),
      when(abs(r) < 1e-12, lit(null).cast("double"))
        .otherwise(Parity.fix(ccc / r, 6)).as("c_b"),
      Parity.fix(ccc, 6).as("ccc"))
  }

  val q394LinCccSql: String =
    """WITH a AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS va
      |  FROM orders GROUP BY 1),
      |b AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS BIGINT) AS vb
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  GROUP BY 1),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    CAST(SUM(CAST(va AS HUGEINT)) AS HUGEINT) AS sx,
      |    CAST(SUM(CAST(vb AS HUGEINT)) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(va AS HUGEINT) * va) AS HUGEINT) AS sxx,
      |    CAST(SUM(CAST(vb AS HUGEINT) * vb) AS HUGEINT) AS syy,
      |    CAST(SUM(CAST(va AS HUGEINT) * vb) AS HUGEINT) AS sxy
      |  FROM a JOIN b USING (day)),
      |f AS (
      |  SELECT n,
      |    CAST(sx AS DOUBLE) / n AS mx, CAST(sy AS DOUBLE) / n AS my,
      |    CAST(sxx AS DOUBLE) / n AS mxx, CAST(syy AS DOUBLE) / n AS myy,
      |    CAST(sxy AS DOUBLE) / n AS mxy
      |  FROM m),
      |z AS (
      |  SELECT n,
      |    mxx - mx * mx AS vx, myy - my * my AS vy,
      |    mxy - mx * my AS cxy, mx, my
      |  FROM f),
      |z2 AS (
      |  SELECT n,
      |    2.0 * cxy / GREATEST(vx + vy + (mx - my) * (mx - my), 1e-300)
      |      AS ccc,
      |    cxy / GREATEST(SQRT(GREATEST(vx, 0.0))
      |      * SQRT(GREATEST(vy, 0.0)), 1e-300) AS r
      |  FROM z)
      |SELECT CAST(n AS BIGINT) AS n_days,
      |  FLOOR(r * 1e6 + 0.5) / 1e6 + 0 AS pearson_r,
      |  CASE WHEN ABS(r) < 1e-12 THEN NULL
      |    ELSE FLOOR(ccc / r * 1e6 + 0.5) / 1e6 + 0 END AS c_b,
      |  FLOOR(ccc * 1e6 + 0.5) / 1e6 + 0 AS ccc
      |FROM z2""".stripMargin
}
