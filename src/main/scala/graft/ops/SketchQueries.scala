package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Cross-engine-checkable sketches (round 14). The HLL (A5) and
  * count-min (L46) families are ScalaTest-verified because their hash
  * kernels are engine-private; KMV is the sketch whose ENTIRE
  * construction both engines can reproduce bit-for-bit — md5 is
  * standardized, so the k minimum hash values, the estimate, and the
  * error against the exact count are all one DuckDB-mirrored query.
  *
  * Since r15 the machinery lives in [[Kmv]] (r14 verdict mandate #4):
  * one source of truth for the 48-bit hex fold on both engines
  * (`Kmv.hashCol` / `Kmv.hashSql`), the sketch frame, the unbiased
  * estimate, and the mergeable Aggregator + set algebra KmvSpec pins.
  * These three queries COMPOSE it.
  */
object SketchQueries {

  /** L260 KMV (k-minimum-values) distinct-count sketch ([PK]
    * Bar-Yossef et al. 2002; Beyer et al. 2007 unbiased (k−1)/u_k
    * form): estimate |distinct o_custkey| from the k = 256 smallest
    * 48-bit md5 prefixes, next to the exact distinct count and the
    * relative error — the mergeable distinct sketch used when an
    * exact count-distinct shuffle is too expensive, here verified
    * END-TO-END against DuckDB because md5 (unlike engine-native
    * hash()) is identical everywhere.
    *
    * Parity: hv = first 12 hex chars of md5(cast(key as string)) as
    * int64 — exact in both engines (Spark `conv`, DuckDB a 12-digit
    * integer fold); the k-th minimum is an exact-integer order
    * statistic; estimate = (k−1)·2⁴⁸/u_k and the error are one double
    * chain, 4dp.
    *
    * Scale: the sketch is ONE map-side-combinable agg shape — per
    * partition keep the k smallest (here: distinct-hash census +
    * TakeOrdered k, which Spark executes as per-partition top-k then
    * a k-row merge); the exact count (for the error column) is the
    * expensive full distinct the sketch exists to replace, kept here
    * as the oracle's measuring stick. */
  def q326KmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val topk = Kmv.sketchFrame(Tables.orders(s, dir), col("o_custkey"), k)
    val kth = topk.agg(count(lit(1)).as("m"), max(col("hv")).as("uk"))
    val exact = Tables.orders(s, dir)
      .agg(count_distinct(col("o_custkey")).as("n_exact"))
    def f(c: String) = col(c).cast("double")
    val est = Kmv.estimateCol(col("m"), col("uk"))
    kth.crossJoin(broadcast(exact))
      .select(col("n_exact").cast("long").as("n_exact"),
        col("m").cast("long").as("k_used"),
        col("uk").cast("long").as("kth_hash"),
        when(col("uk") <= 0L || col("m") < 2L, lit(null).cast("double"))
          .otherwise(Parity.fix(est, 4)).as("kmv_estimate"),
        when(col("uk") <= 0L || col("m") < 2L, lit(null).cast("double"))
          .otherwise(Parity.fix(est / f("n_exact") - 1.0, 6)).as("rel_err"))
  }

  val q326KmvDistinctSql: String =
    s"""WITH hv AS (
      |  SELECT DISTINCT ${Kmv.hashSql("o_custkey")} AS hv
      |  FROM orders),
      |topk AS (SELECT hv FROM hv ORDER BY hv LIMIT 256),
      |kth AS (SELECT COUNT(*) AS m, MAX(hv) AS uk FROM topk),
      |ex AS (SELECT COUNT(DISTINCT o_custkey) AS n_exact FROM orders)
      |SELECT CAST(n_exact AS BIGINT) AS n_exact,
      |  CAST(m AS BIGINT) AS k_used, CAST(uk AS BIGINT) AS kth_hash,
      |  CASE WHEN uk <= 0 OR m < 2 THEN NULL
      |    ELSE FLOOR((m - 1.0) * 2.81474976710656e14
      |      / uk * 1e4 + 0.5) / 1e4 + 0 END AS kmv_estimate,
      |  CASE WHEN uk <= 0 OR m < 2 THEN NULL
      |    ELSE FLOOR(((m - 1.0) * 2.81474976710656e14 / uk
      |      / n_exact - 1.0) * 1e6 + 0.5) / 1e6 + 0 END AS rel_err
      |FROM kth CROSS JOIN ex""".stripMargin
  /** L265 consistent hash sampling + rate audit ([PK] the classic
    * hash-mod/bottom-share Bernoulli sample — e.g. Broder 1997's
    * min-wise framework; the "sticky sampling" every A/B holdout and
    * debug-slice pipeline uses): a row is sampled iff its key's
    * 48-bit md5 fraction < p — STABLE under data growth (a customer
    * stays sampled forever, new data joins the same slice), unlike
    * rand()-based sampling which reshuffles membership every run.
    * p = 1/16 on o_custkey; the audit reports, per order-priority
    * stratum, the realized rate and its deviation so drift from the
    * nominal rate is visible.
    *
    * Parity: the q326 hex-fold — membership is an exact integer
    * comparison (hv < 2⁴⁸/16) in both engines; rates are one double
    * chain, 6dp.
    *
    * Scale: a map-side predicate — no shuffle at all beyond the
    * stratum census; the whole point of the operator at 100 TB. */
  def q331ConsistentSample(s: SparkSession, dir: String): DataFrame = {
    val cut = Kmv.HashSpace / 16L
    val hv = Kmv.hashCol(col("o_custkey"))
    Tables.orders(s, dir)
      .select(col("o_orderpriority"), (hv < cut).as("in_sample"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_sampled"))
      .select(col("o_orderpriority"), col("n_rows"), col("n_sampled"),
        Parity.fix(col("n_sampled").cast("double") /
          col("n_rows").cast("double"), 6).as("rate"),
        Parity.fix(col("n_sampled").cast("double") /
          col("n_rows").cast("double") - 0.0625, 6).as("rate_dev"))
      .orderBy("o_orderpriority")
  }

  val q331ConsistentSampleSql: String =
    s"""WITH h AS (
      |  SELECT o_orderpriority,
      |    ${Kmv.hashSql("o_custkey")}
      |      < 281474976710656 // 16 AS in_sample
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n_rows,
      |  CAST(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sampled,
      |  FLOOR(SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) * 1.0
      |    / COUNT(*) * 1e6 + 0.5) / 1e6 + 0 AS rate,
      |  FLOOR((SUM(CASE WHEN in_sample THEN 1 ELSE 0 END) * 1.0
      |    / COUNT(*) - 0.0625) * 1e6 + 0.5) / 1e6 + 0 AS rate_dev
      |FROM h GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** L266 KMV set-operation cardinalities ([PK] Beyer et al. 2007 —
    * the reason KMV beats HLL for pipelines: sketches COMPOSE under
    * set algebra): estimate the distinct-customer overlap of two
    * order-date years from their KMV sketches — K = the k smallest
    * union hashes, ρ̂ = |{h ∈ K : h ∈ A ∧ h ∈ B}|/k (Jaccard),
    * |A∩B| ≈ ρ̂·D̂(A∪B) — beside the exact overlap, so the estimator
    * error is measured, not assumed. The shape behind every
    * "audience overlap" / cross-source contamination quick check at
    * 100 TB.
    *
    * Parity: per-hash membership flags are exact (max of indicator
    * over an exact-int group); the k-th-min cut, ρ̂ and D̂ are
    * exact-int order statistics + one double chain, 4dp.
    *
    * Scale: one distinct-hash census with two membership flags, one
    * TakeOrdered k — the exact overlap (for the error column) is the
    * full-shuffle distinct-intersection the sketch replaces. */
  def q332KmvOverlap(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val o = Tables.orders(s, dir).select(
      Kmv.hashCol(col("o_custkey")).as("hv"),
      year(col("o_orderdate")).as("yr"), col("o_custkey"))
      .filter(col("yr") === 1995 || col("yr") === 1996)
    val census = o.groupBy("hv")
      .agg(max(when(col("yr") === 1995, 1L).otherwise(0L)).as("inA"),
        max(when(col("yr") === 1996, 1L).otherwise(0L)).as("inB"))
      .localCheckpoint(eager = false)
    val topk = census.orderBy("hv").limit(k)
    val agg = topk.agg(count(lit(1)).as("m"), max(col("hv")).as("uk"),
      sum(col("inA") * col("inB")).as("both"))
    val exact = o.groupBy("o_custkey")
      .agg(max(when(col("yr") === 1995, 1L).otherwise(0L)).as("a"),
        max(when(col("yr") === 1996, 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a") * col("b")).as("n_exact_overlap"))
    def f(c: String) = col(c).cast("double")
    val dUnion = Kmv.estimateCol(col("m"), col("uk"))
    val est = f("both") / f("m") * dUnion
    agg.crossJoin(broadcast(exact))
      .select(col("m").cast("long").as("k_used"),
        col("both").cast("long").as("k_overlap"),
        col("n_exact_overlap").cast("long").as("n_exact_overlap"),
        when(col("uk") <= 0L || col("m") < 2L, lit(null).cast("double"))
          .otherwise(Parity.fix(est, 4)).as("kmv_overlap_est"),
        when(col("uk") <= 0L || col("m") < 2L ||
            col("n_exact_overlap") === 0L, lit(null).cast("double"))
          .otherwise(Parity.fix(est / f("n_exact_overlap") - 1.0, 6))
          .as("rel_err"))
  }

  val q332KmvOverlapSql: String =
    s"""WITH o AS (
      |  SELECT ${Kmv.hashSql("o_custkey")} AS hv,
      |    date_part('year', o_orderdate) AS yr, o_custkey
      |  FROM orders
      |  WHERE date_part('year', o_orderdate) IN (1995, 1996)),
      |census AS (
      |  SELECT hv,
      |    MAX(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS inA,
      |    MAX(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS inB
      |  FROM o GROUP BY hv),
      |topk AS (SELECT * FROM census ORDER BY hv LIMIT 256),
      |ag AS (
      |  SELECT COUNT(*) AS m, MAX(hv) AS uk,
      |    CAST(SUM(inA * inB) AS BIGINT) AS kb
      |  FROM topk),
      |ex AS (
      |  SELECT CAST(SUM(a * b) AS BIGINT) AS n_exact_overlap FROM (
      |    SELECT o_custkey,
      |      MAX(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS a,
      |      MAX(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS b
      |    FROM o GROUP BY o_custkey))
      |SELECT CAST(m AS BIGINT) AS k_used, CAST(kb AS BIGINT)
      |    AS k_overlap,
      |  CAST(n_exact_overlap AS BIGINT) AS n_exact_overlap,
      |  CASE WHEN uk <= 0 OR m < 2 THEN NULL
      |    ELSE FLOOR(kb * 1.0 / m * ((m - 1.0)
      |      * 2.81474976710656e14 / uk) * 1e4 + 0.5) / 1e4 + 0 END
      |    AS kmv_overlap_est,
      |  CASE WHEN uk <= 0 OR m < 2 OR n_exact_overlap = 0 THEN NULL
      |    ELSE FLOOR((kb * 1.0 / m * ((m - 1.0)
      |      * 2.81474976710656e14 / uk) / n_exact_overlap - 1.0) * 1e6
      |      + 0.5) / 1e6 + 0 END AS rel_err
      |FROM ag CROSS JOIN ex""".stripMargin

  /** L280 capture–recapture population estimate ([PK] Lincoln 1930 /
    * Petersen; Chapman 1951 bias-corrected form): treat two order
    * years as two CAPTURES of the customer population —
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with variance
    * (n₁+1)(n₂+1)(n₁−m)(n₂−m)/((m+1)²(m+2)) — beside the EXACT
    * distinct-customer count, so the estimator error is measured. The
    * complement of q332: KMV estimates what the two sets HOLD from
    * their hashes; capture–recapture estimates what the POPULATION
    * is, including customers neither year saw — the "how many
    * entities exist that we haven't crawled" question (valid under
    * equal-catchability; heterogeneous capture biases N̂ low, which
    * the error column exposes).
    *
    * Parity: n₁, n₂, m, N are exact int64 (one distinct-customer
    * census with two membership flags — the q332 shape); N̂/variance/
    * error one fixed double chain, 4dp/6dp.
    *
    * Scale: ONE map-side distinct census; no sort, no window, one
    * 1-row × 1-row aggregate join. */
  def q346CaptureRecapture(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_custkey"),
        year(col("o_orderdate")).as("yr"))
    val census = o.groupBy("o_custkey")
      .agg(max(when(col("yr") === 1995, 1L).otherwise(0L)).as("a"),
        max(when(col("yr") === 1996, 1L).otherwise(0L)).as("b"))
    val m = census.agg(count(lit(1)).as("n_pop"),
      sum(col("a")).as("n1"), sum(col("b")).as("n2"),
      sum(col("a") * col("b")).as("mm"))
    def f(c: String) = col(c).cast("double")
    val nHat = (f("n1") + 1.0) * (f("n2") + 1.0) / (f("mm") + 1.0) - 1.0
    val varN = (f("n1") + 1.0) * (f("n2") + 1.0) *
      (f("n1") - f("mm")) * (f("n2") - f("mm")) /
      ((f("mm") + 1.0) * (f("mm") + 1.0) * (f("mm") + 2.0))
    val bad = col("mm") < 10L
    m.select(col("n_pop").cast("long").as("n_exact"),
      col("n1").cast("long").as("n_year1"),
      col("n2").cast("long").as("n_year2"),
      col("mm").cast("long").as("n_both"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(nHat, 4)).as("chapman_est"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(sqrt(varN), 4)).as("se"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(nHat / f("n_pop") - 1.0, 6)).as("rel_err"))
  }

  val q346CaptureRecaptureSql: String =
    """WITH o AS (
      |  SELECT o_custkey, date_part('year', o_orderdate) AS yr
      |  FROM orders),
      |census AS (
      |  SELECT o_custkey,
      |    MAX(CASE WHEN yr = 1995 THEN 1 ELSE 0 END) AS a,
      |    MAX(CASE WHEN yr = 1996 THEN 1 ELSE 0 END) AS b
      |  FROM o GROUP BY o_custkey),
      |m AS (
      |  SELECT COUNT(*) AS n_pop,
      |    CAST(SUM(a) AS BIGINT) AS n1, CAST(SUM(b) AS BIGINT) AS n2,
      |    CAST(SUM(a * b) AS BIGINT) AS mm
      |  FROM census),
      |fin AS (
      |  SELECT *,
      |    (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
      |      / (CAST(mm AS DOUBLE) + 1.0) - 1.0 AS nhat,
      |    (CAST(n1 AS DOUBLE) + 1.0) * (CAST(n2 AS DOUBLE) + 1.0)
      |      * (CAST(n1 AS DOUBLE) - mm) * (CAST(n2 AS DOUBLE) - mm)
      |      / ((CAST(mm AS DOUBLE) + 1.0) * (CAST(mm AS DOUBLE) + 1.0)
      |        * (CAST(mm AS DOUBLE) + 2.0)) AS varn
      |  FROM m)
      |SELECT CAST(n_pop AS BIGINT) AS n_exact, n1 AS n_year1,
      |  n2 AS n_year2, mm AS n_both,
      |  CASE WHEN mm < 10 THEN NULL
      |    ELSE FLOOR(nhat * 1e4 + 0.5) / 1e4 + 0 END AS chapman_est,
      |  CASE WHEN mm < 10 THEN NULL
      |    ELSE FLOOR(SQRT(varn) * 1e4 + 0.5) / 1e4 + 0 END AS se,
      |  CASE WHEN mm < 10 THEN NULL
      |    ELSE FLOOR((nhat / CAST(n_pop AS DOUBLE) - 1.0) * 1e6 + 0.5)
      |      / 1e6 + 0 END AS rel_err
      |FROM fin""".stripMargin

  /** L285 KMV sketch ROLLUP ([PK] Beyer et al. 2007 §4 — the merge
    * property, exercised END-TO-END as an oracle query): build a
    * monthly k-min sketch of distinct customers, roll the MONTHLY
    * SKETCHES (never the raw data) up to quarters, and report each
    * quarter's estimate beside its exact distinct count. The k
    * smallest of a union of per-month k-smallest sets IS the union's
    * k-min sketch, so the rollup is lossless — the property that lets
    * a 100 TB pipeline keep per-partition/per-day sketches and answer
    * any coarser distinct-count question without rescanning. KmvSpec
    * pins the merge algebra in-process; THIS query pins it
    * cross-engine, against ground truth, at every fixture SF.
    *
    * Parity: exact int64 hashes; two deterministic rank layers (ties
    * impossible — hv is distinct within each layer's partition);
    * below-k quarters report the EXACT member count as the estimate
    * (the Kmv.estimate convention); one double chain 4dp/6dp.
    *
    * Scale: map-side (month, hv) distinct → per-month top-k windows
    * (24 bounded partitions) → the quarterly layer sees ≤ 24·k rows
    * TOTAL. The exact counts (the measuring stick) are the only
    * full-shuffle stage. */
  def q351KmvRollup(s: SparkSession, dir: String): DataFrame = {
    val k = 256
    val o = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).as("m"),
        (year(col("o_orderdate")) * 10 +
          quarter(col("o_orderdate"))).as("qtr"),
        col("o_custkey"))
    val monthly = o.select(col("m"), col("qtr"),
        Kmv.hashCol(col("o_custkey")).as("hv"))
      .groupBy("m", "qtr", "hv").agg(count(lit(1)).as("_d"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("m").orderBy("hv")))
      .filter(col("rn") <= k)
    val quarterly = monthly.groupBy("qtr", "hv").agg(count(lit(1)).as("_d"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("qtr").orderBy("hv")))
      .filter(col("rn") <= k)
      .groupBy("qtr")
      .agg(count(lit(1)).as("mu"), max(col("hv")).as("uk"))
    val exact = o.groupBy("qtr")
      .agg(count_distinct(col("o_custkey")).as("n_exact"))
    def f(c: String) = col(c).cast("double")
    val est = when(col("mu") < k.toLong, f("mu"))
      .otherwise(Kmv.estimateCol(col("mu"), col("uk")))
    quarterly.join(exact, "qtr")
      .select(col("qtr").cast("long").as("qtr"),
        col("n_exact").cast("long").as("n_exact"),
        col("mu").cast("long").as("k_used"),
        Parity.fix(est, 4)
          .as("rollup_est"),
        when(col("n_exact") === 0L, lit(null).cast("double"))
          .otherwise(Parity.fix(est / f("n_exact") - 1.0, 6)).as("rel_err"))
      .orderBy("qtr")
  }

  val q351KmvRollupSql: String =
    s"""WITH o AS (
       |  SELECT date_part('year', o_orderdate) * 100
       |      + date_part('month', o_orderdate) AS m,
       |    date_part('year', o_orderdate) * 10
       |      + date_part('quarter', o_orderdate) AS qtr,
       |    o_custkey
       |  FROM orders
       |  WHERE date_part('year', o_orderdate) IN (1995, 1996)),
       |mh AS (
       |  SELECT DISTINCT m, qtr,
       |    ${Kmv.hashSql("o_custkey")} AS hv
       |  FROM o),
       |monthly AS (
       |  SELECT m, qtr, hv FROM (
       |    SELECT m, qtr, hv,
       |      ROW_NUMBER() OVER (PARTITION BY m ORDER BY hv) AS rn
       |    FROM mh)
       |  WHERE rn <= 256),
       |qh AS (SELECT DISTINCT qtr, hv FROM monthly),
       |quarterly AS (
       |  SELECT qtr, COUNT(*) AS mu, MAX(hv) AS uk FROM (
       |    SELECT qtr, hv,
       |      ROW_NUMBER() OVER (PARTITION BY qtr ORDER BY hv) AS rn
       |    FROM qh)
       |  WHERE rn <= 256 GROUP BY qtr),
       |ex AS (
       |  SELECT qtr, COUNT(DISTINCT o_custkey) AS n_exact
       |  FROM o GROUP BY qtr),
       |fin AS (
       |  SELECT q.qtr, mu, uk, n_exact,
       |    CASE WHEN mu < 256 THEN CAST(mu AS DOUBLE)
       |      ELSE (CAST(mu AS DOUBLE) - 1.0) * 2.81474976710656e14
       |        / uk END AS est
       |  FROM quarterly q JOIN ex ON q.qtr = ex.qtr)
       |SELECT CAST(qtr AS BIGINT) AS qtr,
       |  CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(mu AS BIGINT) AS k_used,
       |  FLOOR(est * 1e4 + 0.5) / 1e4 + 0 AS rollup_est,
       |  CASE WHEN n_exact = 0 THEN NULL
       |    ELSE FLOOR((est / n_exact - 1.0) * 1e6 + 0.5) / 1e6 + 0 END
       |    AS rel_err
       |FROM fin ORDER BY qtr""".stripMargin

  /** L291 mergeable histogram quantile rollup — the q351 capability
    * for QUANTILE questions: per-month 32-bin equi-width histograms of
    * order value (cents, exact ints) are MERGED into quarterly
    * histograms (bin-count addition — the mergeable-summary property),
    * and each quarter's P50/P90 are estimated by linear interpolation
    * inside the covering bin, published BESIDE the exact percentiles
    * (the A10 `percentile` == `quantile_cont` contract) with their
    * relative errors — the estimator-honesty discipline. The
    * interpolation error is STRUCTURALLY bounded by ~one bin width,
    * which the spec asserts; at 100 TB the monthly histograms answer
    * any coarser-period quantile question without rescanning the
    * facts ([PK] the classic equi-width summary of Ioannidis'
    * histogram survey, 2003).
    *
    * Parity: bin ids are exact integer arithmetic ((x−mn)·32 div
    * span) under a 1-row broadcast (mn, mx); counts exact; the
    * interpolated estimate is ONE double chain over exact ints +
    * t = p·n, floor-quantized 4dp; exact percentiles ride the A10
    * contract, 4dp.
    *
    * Scale: one map-side-combinable (m, qtr, bin) agg over the fact
    * scan (≤ 24·32 cells), a ≤ 8·32-row merge, bounded windows over
    * the bin census, and a broadcast join of two ≤ 8-row sides. The
    * only fact-wide stage besides the scan is the exact-percentile
    * measuring stick — the point of the query (the q351 convention). */
  def q357HistogramRollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(year(col("o_orderdate")).isin(1995, 1996))
      .select((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).as("m"),
        (year(col("o_orderdate")) * 10 +
          quarter(col("o_orderdate"))).as("qtr"),
        Parity.quant(col("o_totalprice"), 100.0).as("cents"))
      .localCheckpoint(eager = false)
    val b = o.agg(min(col("cents")).as("mn"), max(col("cents")).as("mx"))
    val monthly = o.crossJoin(broadcast(b))
      .select(col("m"), col("qtr"), col("mn"), col("mx"),
        expr("(cents - mn) * 32 div (mx - mn + 1)").as("bin"))
      .groupBy("m", "qtr", "bin")
      .agg(count(lit(1)).as("c"), max(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
    val qbins = monthly.groupBy("qtr", "bin")
      .agg(sum(col("c")).as("c"), max(col("mn")).as("mn"),
        max(col("mx")).as("mx"))
    val wCum = Window.partitionBy("qtr").orderBy("bin")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("qtr")
    val withCum = qbins
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("cb", col("cum") - col("c"))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("p", explode(array(lit(0.5), lit(0.9))))
      .withColumn("t", col("p") * col("n"))
      .filter(col("cb") < col("t") && col("t") <= col("cum"))
    val w = (col("mx") - col("mn") + 1L).cast("double") / 32.0
    val est = col("mn").cast("double") +
      (col("bin").cast("double") +
        (col("t") - col("cb").cast("double")) / col("c").cast("double")) * w
    val ests = withCum
      .select(col("qtr"), col("n"), col("p"),
        Parity.fix(est, 4)
          .as("e"),
        Parity.fix(w, 4)
          .as("bw"))
      .groupBy("qtr")
      .agg(max(col("n")).as("n_orders"), max(col("bw")).as("bin_w"),
        max(when(col("p") === 0.5, col("e"))).as("est_p50"),
        max(when(col("p") === 0.9, col("e"))).as("est_p90"))
    val exact = o.groupBy("qtr")
      .agg(percentile(col("cents"), array(lit(0.5), lit(0.9))).as("q"))
      .select(col("qtr"),
        Parity.fix(element_at(col("q"), 1), 4).as("exact_p50"),
        Parity.fix(element_at(col("q"), 2), 4).as("exact_p90"))
    def err(e: String, x: String) =
      Parity.fix(col(e) / col(x) - 1.0, 6)
    ests.join(broadcast(exact), "qtr")
      .select(col("qtr").cast("long").as("qtr"),
        col("n_orders").cast("long").as("n_orders"), col("bin_w"),
        col("est_p50"), col("exact_p50"),
        err("est_p50", "exact_p50").as("rel_err_p50"),
        col("est_p90"), col("exact_p90"),
        err("est_p90", "exact_p90").as("rel_err_p90"))
      .orderBy("qtr")
  }

  val q357HistogramRollupSql: String =
    """WITH o AS (
      |  SELECT date_part('year', o_orderdate) * 100
      |      + date_part('month', o_orderdate) AS m,
      |    date_part('year', o_orderdate) * 10
      |      + date_part('quarter', o_orderdate) AS qtr,
      |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      |  FROM orders
      |  WHERE date_part('year', o_orderdate) IN (1995, 1996)),
      |b AS (SELECT MIN(cents) AS mn, MAX(cents) AS mx FROM o),
      |monthly AS (
      |  SELECT m, qtr, (cents - mn) * 32 // (mx - mn + 1) AS bin,
      |    COUNT(*) AS c, MAX(mn) AS mn, MAX(mx) AS mx
      |  FROM o CROSS JOIN b GROUP BY m, qtr, (cents - mn) * 32 // (mx - mn + 1)),
      |qb AS (
      |  SELECT qtr, bin, CAST(SUM(c) AS BIGINT) AS c,
      |    MAX(mn) AS mn, MAX(mx) AS mx
      |  FROM monthly GROUP BY qtr, bin),
      |wc AS (
      |  SELECT *,
      |    CAST(SUM(c) OVER (PARTITION BY qtr ORDER BY bin
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
      |    CAST(SUM(c) OVER (PARTITION BY qtr) AS BIGINT) AS n
      |  FROM qb),
      |hit AS (
      |  SELECT qtr, n, p, bin, c, mn, mx, cum - c AS cb, p * n AS t
      |  FROM wc CROSS JOIN (VALUES (0.5), (0.9)) tp(p)
      |  WHERE cum - c < p * n AND p * n <= cum),
      |est AS (
      |  SELECT qtr, n, p,
      |    FLOOR((CAST(mn AS DOUBLE) +
      |      (CAST(bin AS DOUBLE) + (t - CAST(cb AS DOUBLE))
      |        / CAST(c AS DOUBLE))
      |      * (CAST(mx - mn + 1 AS DOUBLE) / 32.0)) * 1e4 + 0.5)
      |      / 1e4 + 0 AS e,
      |    FLOOR(CAST(mx - mn + 1 AS DOUBLE) / 32.0 * 1e4 + 0.5)
      |      / 1e4 + 0 AS bw
      |  FROM hit),
      |ests AS (
      |  SELECT qtr, MAX(n) AS n_orders, MAX(bw) AS bin_w,
      |    MAX(CASE WHEN p = 0.5 THEN e END) AS est_p50,
      |    MAX(CASE WHEN p = 0.9 THEN e END) AS est_p90
      |  FROM est GROUP BY qtr),
      |ex AS (
      |  SELECT qtr,
      |    FLOOR(quantile_cont(cents, 0.5) * 1e4 + 0.5) / 1e4 + 0
      |      AS exact_p50,
      |    FLOOR(quantile_cont(cents, 0.9) * 1e4 + 0.5) / 1e4 + 0
      |      AS exact_p90
      |  FROM o GROUP BY qtr)
      |SELECT CAST(ests.qtr AS BIGINT) AS qtr,
      |  n_orders, bin_w, est_p50, exact_p50,
      |  FLOOR((est_p50 / exact_p50 - 1.0) * 1e6 + 0.5) / 1e6 + 0
      |    AS rel_err_p50,
      |  est_p90, exact_p90,
      |  FLOOR((est_p90 / exact_p90 - 1.0) * 1e6 + 0.5) / 1e6 + 0
      |    AS rel_err_p90
      |FROM ests JOIN ex ON ests.qtr = ex.qtr
      |ORDER BY qtr""".stripMargin

  /** L292 count-min sketch rollup — the L46 machinery finally under
    * the cross-engine oracle gate ([PK] Cormode & Muthukrishnan 2005):
    * a d=3 × w=1024 count-min sketch of per-customer order counts is
    * built from MONTHLY cell censuses and merged by cell-wise addition
    * (the mergeable-summary property, the q351/q357 rollup
    * convention), then 20 probe customers' counts are estimated as
    * min_j cell[j][h_j(k)] and published BESIDE their exact counts
    * with the overshoot — CM's defining one-sided guarantee
    * (est ≥ exact ALWAYS; E[overshoot] ≤ N/w per row) made a
    * spec-checkable honesty panel. Unlike HLL (engine-private hash),
    * every CM cell is md5-derived, so BOTH engines reproduce the
    * sketch bit-for-bit.
    *
    * Parity: the ENTIRE query is exact integer arithmetic — md5 hex
    * folds (the [[Kmv]] convention, salted 'cm0:'/'cm1:'/'cm2:' for
    * the three rows), counts, mins — no doubles anywhere.
    *
    * Scale: fact scan → 3× stack (map-side combined into ≤ 24·3·1024
    * monthly cells) → ≤ 3·1024 merged cells; the probe join
    * broadcasts 60 rows against the cell census; exact counts ride a
    * PUSHED custkey ≤ 20 filter. Nothing fact-sized shuffles except
    * the initial cell combine, which is the sketch build itself. */
  def q358CmRollup(s: SparkSession, dir: String): DataFrame = {
    val w = 1024
    def cell(j: Int, key: Column): Column =
      pmod(conv(substring(md5(concat(lit(s"cm$j:"),
        key.cast("string"))), 1, 6), 16, 10).cast("long"), lit(w.toLong))
    val o = Tables.orders(s, dir)
      .select((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).as("m"), col("o_custkey"))
    val monthly = o
      .select(col("m"),
        cell(0, col("o_custkey")).as("c0"),
        cell(1, col("o_custkey")).as("c1"),
        cell(2, col("o_custkey")).as("c2"))
      .selectExpr("m", "stack(3, 0L, c0, 1L, c1, 2L, c2) as (j, cell)")
      .groupBy("m", "j", "cell").agg(count(lit(1)).as("n"))
    val merged = monthly.groupBy("j", "cell").agg(sum(col("n")).as("n"))
    val probes = Tables.customer(s, dir)
      .filter(col("c_custkey") <= 20)
      .select(col("c_custkey"),
        cell(0, col("c_custkey")).as("c0"),
        cell(1, col("c_custkey")).as("c1"),
        cell(2, col("c_custkey")).as("c2"))
      .selectExpr("c_custkey", "stack(3, 0L, c0, 1L, c1, 2L, c2) as (j, cell)")
    // broadcast the CELL census (≤ 3·1024 rows): Spark cannot
    // broadcast the preserved (left) side of a left-outer join
    val est = probes.join(broadcast(merged), Seq("j", "cell"), "left")
      .groupBy("c_custkey")
      .agg(min(coalesce(col("n"), lit(0L))).as("cm_est"))
    val exact = Tables.orders(s, dir)
      .filter(col("o_custkey") <= 20)
      .groupBy(col("o_custkey").as("c_custkey"))
      .agg(count(lit(1)).as("n_exact"))
    est.join(broadcast(exact), Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"),
        col("cm_est"),
        (col("cm_est") - coalesce(col("n_exact"), lit(0L)))
          .as("overshoot"))
      .orderBy("c_custkey")
  }

  val q358CmRollupSql: String = {
    def fold(salt: String, key: String): String =
      s"""(list_sum(list_transform(range(6), i ->
         |      (strpos('0123456789abcdef',
         |         substr(md5('$salt:' || CAST($key AS VARCHAR)),
         |           CAST(i + 1 AS INT), 1)) - 1)
         |      * (CAST(1 AS BIGINT) << CAST(4 * (5 - i) AS INT)))) % 1024)"""
        .stripMargin
    s"""WITH o AS (
       |  SELECT date_part('year', o_orderdate) * 100
       |      + date_part('month', o_orderdate) AS m, o_custkey
       |  FROM orders),
       |cells AS (
       |  SELECT m, j,
       |    CASE j WHEN 0 THEN ${fold("cm0", "o_custkey")}
       |           WHEN 1 THEN ${fold("cm1", "o_custkey")}
       |           ELSE ${fold("cm2", "o_custkey")} END AS cell
       |  FROM o CROSS JOIN (VALUES (0), (1), (2)) tj(j)),
       |monthly AS (
       |  SELECT m, j, cell, COUNT(*) AS n FROM cells GROUP BY m, j, cell),
       |merged AS (
       |  SELECT j, cell, CAST(SUM(n) AS BIGINT) AS n
       |  FROM monthly GROUP BY j, cell),
       |probes AS (
       |  SELECT c_custkey, j,
       |    CASE j WHEN 0 THEN ${fold("cm0", "c_custkey")}
       |           WHEN 1 THEN ${fold("cm1", "c_custkey")}
       |           ELSE ${fold("cm2", "c_custkey")} END AS cell
       |  FROM customer CROSS JOIN (VALUES (0), (1), (2)) tj(j)
       |  WHERE c_custkey <= 20),
       |est AS (
       |  SELECT c_custkey, MIN(COALESCE(n, 0)) AS cm_est
       |  FROM probes LEFT JOIN merged USING (j, cell)
       |  GROUP BY c_custkey),
       |ex AS (
       |  SELECT o_custkey AS c_custkey, COUNT(*) AS n_exact
       |  FROM orders WHERE o_custkey <= 20 GROUP BY o_custkey)
       |SELECT est.c_custkey, COALESCE(n_exact, 0) AS n_exact,
       |  cm_est, cm_est - COALESCE(n_exact, 0) AS overshoot
       |FROM est LEFT JOIN ex USING (c_custkey)
       |ORDER BY c_custkey""".stripMargin
  }

  /** L297 HyperLogLog distinct census under the oracle gate ([PK]
    * Flajolet et al. 2007) — upgrades A5 from ScalaTest-only to
    * cross-engine-verified by building the WHOLE sketch from the
    * standardized md5 fold instead of an engine-private hash: the
    * 48-bit [[Kmv.hashCol]] value splits into an 8-bit register index
    * (m = 256) and a 40-bit remainder whose leading-zero rank
    * ρ = 41 − bitlength(w) both engines compute EXACTLY via
    * `bin()` (both emit the unpadded binary string). The raw
    * estimate's harmonic denominator Σ 2^(−M_j) is kept EXACT as the
    * integer Σ 2^(41−M_j) (≤ 256·2⁴¹ < 2⁴⁹ — no float sum, no
    * ordering hazard); empty registers contribute 2⁴¹ each. Per
    * order priority: the HLL estimate BESIDE the exact distinct
    * customer count and the relative error — the estimator-honesty
    * panel. The fixture exercises BOTH regimes: at sf0.001 every
    * group lands in Flajolet's small-range linear-counting branch
    * (E_raw ≤ 2.5m, V > 0 ⇒ m·ln(m/V)); at sf0.01 every group takes
    * the raw harmonic estimator.
    *
    * Parity: register maxima and the harmonic sum are exact int64;
    * α₂₅₆ = 0.7213/(1 + 1.079/256) is the identical literal IEEE
    * chain in both engines; the linear-counting branch's single
    * TERMINAL ln runs on the identical exact ratio m/V (the q354
    * exemption); outputs floor-quantized 4dp.
    *
    * Scale: the sketch side is a two-level map-side-combinable agg —
    * (pri, idx) max-ρ census (≤ 5·256 rows after partial agg) then a
    * ≤ 256-row fold per group; the exact count-distinct is the full
    * shuffle the sketch exists to replace, kept as the oracle's
    * measuring stick (the q326/q351 convention). */
  def q362HllCensus(s: SparkSession, dir: String): DataFrame = {
    val mask = 1099511627775L // 2^40 − 1
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("priority"),
        Kmv.hashCol(col("o_custkey")).as("hv"))
    val reg = o
      .select(col("priority"), shiftright(col("hv"), 40).as("idx"),
        col("hv").bitwiseAND(lit(mask)).as("w"))
      .withColumn("rho", when(col("w") === 0L, lit(41L))
        .otherwise(lit(41L) - length(bin(col("w"))).cast("long")))
      .groupBy("priority", "idx").agg(max(col("rho")).as("m"))
    val agg = reg.groupBy("priority").agg(
      count(lit(1)).as("nreg"),
      sum(expr("shiftleft(1L, cast(41 - m as int))")).as("s_obs"))
    val ex = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    val v = lit(256L) - col("nreg")
    val sInt = col("s_obs") + v * lit(2199023255552L) // + V·2^41
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val eRaw = alpha * lit(65536.0) * lit(2199023255552.0) /
      sInt.cast("double")
    val est = when(eRaw <= 640.0 && v > 0L,
      lit(256.0) * log(lit(256.0) / v.cast("double"))).otherwise(eRaw)
    agg.join(broadcast(ex), Seq("priority"))
      .select(col("priority"), col("n_exact"),
        col("nreg").as("n_registers"), v.as("v_empty"),
        Parity.fix(est, 4).as("hll_est"),
        Parity.fix((est - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 4).as("rel_err"))
      .orderBy("priority")
  }

  val q362HllCensusSql: String =
    s"""WITH h AS (
       |  SELECT o_orderpriority AS priority,
       |    ${Kmv.hashSql("o_custkey")} AS hv
       |  FROM orders),
       |reg AS (
       |  SELECT priority, hv >> 40 AS idx,
       |    MAX(CASE WHEN (hv & 1099511627775) = 0 THEN 41
       |      ELSE 41 - length(bin(hv & 1099511627775)) END) AS m
       |  FROM h GROUP BY priority, hv >> 40),
       |agg AS (
       |  SELECT priority, CAST(COUNT(*) AS BIGINT) AS nreg,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(41 - m AS INT)) AS BIGINT)
       |      AS s_obs
       |  FROM reg GROUP BY priority),
       |ex AS (
       |  SELECT o_orderpriority AS priority,
       |    COUNT(DISTINCT o_custkey) AS n_exact
       |  FROM orders GROUP BY 1),
       |fin AS (
       |  SELECT priority, n_exact, nreg, 256 - nreg AS v_empty,
       |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 2199023255552.0
       |      / CAST(s_obs + (256 - nreg) * (CAST(1 AS BIGINT) << 41)
       |          AS DOUBLE) AS e_raw
       |  FROM agg JOIN ex USING (priority))
       |SELECT priority, CAST(n_exact AS BIGINT) AS n_exact,
       |  nreg AS n_registers, CAST(256 - nreg AS BIGINT) AS v_empty,
       |  FLOOR(CASE WHEN e_raw <= 640.0 AND 256 - nreg > 0
       |      THEN 256.0 * ln(256.0 / (256 - nreg)) ELSE e_raw END
       |    * 1e4 + 0.5) / 1e4 + 0 AS hll_est,
       |  FLOOR((CASE WHEN e_raw <= 640.0 AND 256 - nreg > 0
       |      THEN 256.0 * ln(256.0 / (256 - nreg)) ELSE e_raw END
       |      - n_exact) / n_exact * 1e4 + 0.5) / 1e4 + 0 AS rel_err
       |FROM fin ORDER BY priority""".stripMargin

  /** L311 HLL register rollup *(the q351 capability for the q362
    * sketch)*: monthly 256-register HLL censuses of distinct
    * customers merged into QUARTERS by register-wise MAX — the merge
    * property HLL exists for (a register census is a lossless union
    * summary: max(M_a, M_b) is the census of A ∪ B) — each quarterly
    * estimate published BESIDE the exact distinct count and the
    * relative error. At fixture SFs every quarter sits in Flajolet's
    * linear-counting branch (30–500 distinct vs m = 256), which the
    * spec pins; the raw-regime branch is q362's.
    *
    * Parity: the q362 arithmetic per quarter — register maxima and
    * Σ2^(41−M_j) exact int64, α₂₅₆ a literal chain, the
    * linear-counting ln TERMINAL on the exact m/V ratio; 4dp.
    *
    * Scale: the monthly register census is map-side-combinable
    * (≤ 24·256 rows after partial agg); the quarterly merge touches
    * ≤ 8·256 rows; the exact side is the full per-quarter distinct
    * the rollup replaces — the measuring stick (q351 convention). */
  def q376HllRollup(s: SparkSession, dir: String): DataFrame = {
    val mask = 1099511627775L
    val o = Tables.orders(s, dir)
      .select((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).cast("long").as("m"),
        (year(col("o_orderdate")) * 10 +
          quarter(col("o_orderdate"))).cast("long").as("qtr"),
        col("o_custkey"),
        Kmv.hashCol(col("o_custkey")).as("hv"))
    val monthly = o
      .select(col("qtr"), col("m"), shiftright(col("hv"), 40).as("idx"),
        col("hv").bitwiseAND(lit(mask)).as("w"))
      .withColumn("rho", when(col("w") === 0L, lit(41L))
        .otherwise(lit(41L) - length(bin(col("w"))).cast("long")))
      .groupBy("qtr", "m", "idx").agg(max(col("rho")).as("mm"))
    val merged = monthly.groupBy("qtr", "idx")
      .agg(max(col("mm")).as("m"))
    val agg = merged.groupBy("qtr").agg(
      count(lit(1)).as("nreg"),
      sum(expr("shiftleft(1L, cast(41 - m as int))")).as("s_obs"))
    val ex = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 10 +
        quarter(col("o_orderdate"))).cast("long").as("qtr"))
      .agg(countDistinct(col("o_custkey")).as("n_exact"))
    val v = lit(256L) - col("nreg")
    val sInt = col("s_obs") + v * lit(2199023255552L)
    val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
    val eRaw = alpha * lit(65536.0) * lit(2199023255552.0) /
      sInt.cast("double")
    val est = when(eRaw <= 640.0 && v > 0L,
      lit(256.0) * log(lit(256.0) / v.cast("double"))).otherwise(eRaw)
    agg.join(broadcast(ex), Seq("qtr"))
      .select(col("qtr").as("quarter"), col("n_exact"),
        v.as("v_empty"), Parity.fix(est, 4).as("hll_est"),
        Parity.fix((est - col("n_exact").cast("double")) /
          col("n_exact").cast("double"), 4).as("rel_err"))
      .orderBy("quarter")
  }

  val q376HllRollupSql: String =
    s"""WITH h AS (
       |  SELECT date_part('year', o_orderdate) * 100
       |      + date_part('month', o_orderdate) AS m,
       |    date_part('year', o_orderdate) * 10
       |      + date_part('quarter', o_orderdate) AS qtr,
       |    ${Kmv.hashSql("o_custkey")} AS hv
       |  FROM orders),
       |monthly AS (
       |  SELECT qtr, m, hv >> 40 AS idx,
       |    MAX(CASE WHEN (hv & 1099511627775) = 0 THEN 41
       |      ELSE 41 - length(bin(hv & 1099511627775)) END) AS mm
       |  FROM h GROUP BY qtr, m, hv >> 40),
       |merged AS (
       |  SELECT qtr, idx, MAX(mm) AS mreg FROM monthly GROUP BY qtr, idx),
       |agg AS (
       |  SELECT qtr, CAST(COUNT(*) AS BIGINT) AS nreg,
       |    CAST(SUM(CAST(1 AS BIGINT) << CAST(41 - mreg AS INT))
       |      AS BIGINT) AS s_obs
       |  FROM merged GROUP BY qtr),
       |ex AS (
       |  SELECT date_part('year', o_orderdate) * 10
       |      + date_part('quarter', o_orderdate) AS qtr,
       |    COUNT(DISTINCT o_custkey) AS n_exact
       |  FROM orders GROUP BY 1),
       |fin AS (
       |  SELECT agg.qtr, n_exact, nreg, 256 - nreg AS v_empty,
       |    0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 * 2199023255552.0
       |      / CAST(s_obs + (256 - nreg) * (CAST(1 AS BIGINT) << 41)
       |          AS DOUBLE) AS e_raw
       |  FROM agg JOIN ex ON agg.qtr = ex.qtr)
       |SELECT CAST(qtr AS BIGINT) AS quarter,
       |  CAST(n_exact AS BIGINT) AS n_exact,
       |  CAST(256 - nreg AS BIGINT) AS v_empty,
       |  FLOOR(CASE WHEN e_raw <= 640.0 AND 256 - nreg > 0
       |      THEN 256.0 * ln(256.0 / (256 - nreg)) ELSE e_raw END
       |    * 1e4 + 0.5) / 1e4 + 0 AS hll_est,
       |  FLOOR((CASE WHEN e_raw <= 640.0 AND 256 - nreg > 0
       |      THEN 256.0 * ln(256.0 / (256 - nreg)) ELSE e_raw END
       |      - n_exact) / n_exact * 1e4 + 0.5) / 1e4 + 0 AS rel_err
       |FROM fin ORDER BY quarter""".stripMargin

  /** L298 AMS F2 tug-of-war sketch rollup ([PK] Alon, Matias &
    * Szegedy 1996): estimate the second frequency moment
    * F2 = Σ_c f_c² of per-customer order counts from 32 ±1-sign
    * linear sketches X_j = Σ_c f_c·s_j(c) — built MONTHLY and rolled
    * up to quarters by ADDITION (the sketch is linear in the
    * frequency vector, so the quarterly sketch is the sum of the
    * monthly ones — the q351/q357/q358 mergeable-summary property,
    * here for a JOIN-SIZE/skew statistic: F2 is the self-join size
    * an optimizer prices). Estimate = mean of X_j² over the 32
    * estimators, published BESIDE the exact F2 and its relative
    * error. Sign functions come from 32 distinct BITS of the
    * standardized [[Kmv.hashCol]] md5 fold (md5 bits stand in for
    * AMS's 4-wise-independent family; the honesty panel measures the
    * envelope they actually deliver).
    *
    * Parity: EVERY value is exact integer arithmetic — sign sums,
    * their quarterly sums, squares, Σ X² < 2⁵² — and the one
    * division is by the power of two 32, an exact IEEE scaling.
    * Zero libm, zero rounding anywhere.
    *
    * Scale: the monthly sketch is ONE 32-column map-side-combinable
    * agg over the fact scan (no row explosion — the 32 estimators
    * are columns, unpivoted only AFTER aggregation to ≤ 24·32
    * bounded rows); the rollup and estimate touch ≤ 28·32 rows; the
    * exact F2 is the full per-(quarter, customer) shuffle the sketch
    * replaces, kept as the measuring stick. */
  def q363AmsF2Rollup(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(s, dir)
      .select((year(col("o_orderdate")) * 100 +
        month(col("o_orderdate"))).cast("long").as("m"),
        (year(col("o_orderdate")) * 10 +
          quarter(col("o_orderdate"))).cast("long").as("qtr"),
        col("o_custkey"),
        Kmv.hashCol(col("o_custkey")).as("hv"))
    val signSums = (0 until 32).map { j =>
      sum(shiftright(col("hv"), j).bitwiseAND(lit(1L)) * 2L - 1L)
        .as(s"x$j")
    }
    val monthly = base.groupBy("qtr", "m").agg(signSums.head,
      signSums.tail: _*)
    val quarterly = monthly.groupBy("qtr")
      .agg(sum(col("x0")).as("x0"),
        (1 until 32).map(j => sum(col(s"x$j")).as(s"x$j")): _*)
    val sumSq = (0 until 32).map(j => col(s"x$j") * col(s"x$j"))
      .reduce(_ + _)
    val est = quarterly.select(col("qtr"),
      (sumSq.cast("double") / 32.0).as("ams_est"))
    val ex = Tables.orders(s, dir)
      .groupBy((year(col("o_orderdate")) * 10 +
        quarter(col("o_orderdate"))).cast("long").as("qtr"),
        col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .groupBy("qtr")
      .agg(sum(col("n") * col("n")).as("f2_exact"),
        sum(col("n")).as("n_orders"))
    est.join(broadcast(ex), Seq("qtr"))
      .select(col("qtr").as("quarter"), col("n_orders"),
        col("f2_exact"), col("ams_est"),
        Parity.fix((col("ams_est") - col("f2_exact").cast("double")) /
          col("f2_exact").cast("double"), 4).as("rel_err"))
      .orderBy("quarter")
  }

  val q363AmsF2RollupSql: String = {
    val signSums = (0 until 32).map(j =>
      s"CAST(SUM(2 * ((hv >> $j) & 1) - 1) AS BIGINT) AS x$j")
      .mkString(",\n       |    ")
    val qSums = (0 until 32).map(j =>
      s"CAST(SUM(x$j) AS BIGINT) AS x$j").mkString(", ")
    val sumSq = (0 until 32).map(j => s"x$j*x$j").mkString(" + ")
    s"""WITH h AS (
       |  SELECT date_part('year', o_orderdate) * 100
       |      + date_part('month', o_orderdate) AS m,
       |    date_part('year', o_orderdate) * 10
       |      + date_part('quarter', o_orderdate) AS qtr,
       |    ${Kmv.hashSql("o_custkey")} AS hv
       |  FROM orders),
       |monthly AS (
       |  SELECT qtr, m,
       |    $signSums
       |  FROM h GROUP BY qtr, m),
       |quarterly AS (
       |  SELECT qtr, $qSums
       |  FROM monthly GROUP BY qtr),
       |est AS (
       |  SELECT qtr, ($sumSq) / 32.0 AS ams_est FROM quarterly),
       |ex AS (
       |  SELECT qtr, CAST(SUM(n * n) AS BIGINT) AS f2_exact,
       |    CAST(SUM(n) AS BIGINT) AS n_orders
       |  FROM (
       |    SELECT date_part('year', o_orderdate) * 10
       |        + date_part('quarter', o_orderdate) AS qtr,
       |      o_custkey, COUNT(*) AS n
       |    FROM orders GROUP BY 1, 2) GROUP BY qtr)
       |SELECT CAST(est.qtr AS BIGINT) AS quarter, n_orders, f2_exact,
       |  ams_est,
       |  FLOOR((ams_est - f2_exact) / f2_exact * 1e4 + 0.5) / 1e4 + 0
       |    AS rel_err
       |FROM est JOIN ex USING (qtr) ORDER BY quarter""".stripMargin
  }

  /** L303 Bloom-filter false-positive census under the oracle gate
    * ([PK] Bloom 1970) — oracle-hardens the L15 bloom machinery the
    * way q362 did HLL: the WHOLE filter (k = 7 salted 48-bit md5
    * folds mod m, bit set = the distinct positions of the member
    * keys) is reproduced bit-for-bit in DuckDB, probed with 3,000
    * keys DISJOINT from the member set by DERIVATION — max(o_custkey)
    * + 1 … + 3,000, valid at ANY SF (r16 advisor: the previous fixed
    * 1000001+ literals overlapped real members above ~SF 6.7) — and
    * the observed false-positive rate is published BESIDE Bloom's
    * theoretical (1 − (1 − 1/m)^{kn})^k. Two filter sizes × two SFs
    * sweep FOUR regimes: moderate (obs 0.036 vs exp 0.045), clean
    * (0 ≈ 0), SATURATED (all 1,024 bits set → fpr ≡ 1 — the
    * undersized-filter failure mode, measured not assumed), and
    * sparse (0.0053 vs 0.0053).
    *
    * Parity: bit positions, the bit census, membership decisions,
    * and all counts are exact integers; fpr_obs is one IEEE division;
    * fpr_exp is a TERMINAL two-pow chain on identical exact arguments
    * (the q354 exemption), 6dp.
    *
    * Scale: the filter build is one distinct-key pass + a ≤ m-row
    * bit census (broadcast); probes are a fixed 3,000 × k × |m|
    * map-side frame joined against the broadcast census — nothing
    * fact-sized moves after the first distinct. */
  def q368BloomFpr(s: SparkSession, dir: String): DataFrame = {
    val k = 7
    def pos(j: Column, key: Column, m: Column): Column =
      pmod(conv(substring(md5(concat(lit("bf"), j.cast("string"),
        lit(":"), key.cast("string"))), 1, 12), 16, 10).cast("long"), m)
    val ms = array(lit(1024L), lit(16384L))
    val members = Tables.orders(s, dir).select(col("o_custkey")).distinct()
    val nRow = members.agg(count(lit(1)).as("n_members"))
    val bits = members
      .select(col("o_custkey"), explode(ms).as("m"))
      .select(col("m"), explode(sequence(lit(0), lit(k - 1))).as("j"),
        col("o_custkey"))
      .select(col("m"), pos(col("j"), col("o_custkey"), col("m"))
        .as("p"))
      .distinct()
    val bitCounts = bits.groupBy("m").agg(count(lit(1)).as("bits_set"))
    // r17 (r16 advisor): probe keys are max(o_custkey) + 1 … + 3000 —
    // disjoint from the member set BY DERIVATION at any SF (the fixed
    // 1000001+ literals overlapped real members above ~SF 6.7); the
    // 1-row max rides an in-plan broadcast (q242 form, no driver action)
    val mxRow = members.agg(max(col("o_custkey")).as("mx"))
    val probes = s.range(1L, 3001L).toDF("off")
      .crossJoin(broadcast(mxRow))
      .select((col("mx") + col("off")).as("key"), explode(ms).as("m"))
      .select(col("m"), col("key"),
        explode(sequence(lit(0), lit(k - 1))).as("j"))
      .select(col("m"), col("key"),
        pos(col("j"), col("key"), col("m")).as("p"))
    val hits = probes.join(broadcast(bits.withColumn("hit", lit(1L))),
        Seq("m", "p"), "left")
      .groupBy("m", "key")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("nhit"))
      .groupBy("m")
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("nhit") === k.toLong, 1L).otherwise(0L))
          .as("n_false_pos"))
    val md = col("m").cast("double")
    val nd = col("n_members").cast("double")
    val fprExp = pow(lit(1.0) - pow(lit(1.0) - lit(1.0) / md,
      lit(k.toDouble) * nd), k.toDouble)
    hits.join(broadcast(bitCounts), Seq("m"))
      .crossJoin(broadcast(nRow))
      .select(col("m").as("m_bits"), lit(k.toLong).as("k_hashes"),
        col("n_members"), col("bits_set"), col("n_probes"),
        col("n_false_pos"),
        Parity.fix(col("n_false_pos").cast("double") /
          col("n_probes").cast("double"), 6).as("fpr_obs"),
        Parity.fix(fprExp, 6).as("fpr_exp"))
      .orderBy("m_bits")
  }

  val q368BloomFprSql: String =
    """WITH members AS (SELECT DISTINCT o_custkey FROM orders),
      |nrow AS (SELECT COUNT(*) AS n_members FROM members),
      |ms(m) AS (VALUES (CAST(1024 AS BIGINT)), (CAST(16384 AS BIGINT))),
      |bits AS (
      |  SELECT DISTINCT m,
      |    list_sum(list_transform(range(12), i ->
      |      (strpos('0123456789abcdef',
      |         substr(md5('bf' || CAST(j AS VARCHAR) || ':'
      |             || CAST(o_custkey AS VARCHAR)),
      |           CAST(i + 1 AS INT), 1)) - 1)
      |      * (CAST(1 AS BIGINT) << CAST(4 * (11 - i) AS INT)))) % m
      |      AS p
      |  FROM members CROSS JOIN ms CROSS JOIN range(7) tj(j)),
      |bc AS (SELECT m, COUNT(*) AS bits_set FROM bits GROUP BY m),
      |probes AS (
      |  SELECT m, key,
      |    list_sum(list_transform(range(12), i ->
      |      (strpos('0123456789abcdef',
      |         substr(md5('bf' || CAST(j AS VARCHAR) || ':'
      |             || CAST(key AS VARCHAR)),
      |           CAST(i + 1 AS INT), 1)) - 1)
      |      * (CAST(1 AS BIGINT) << CAST(4 * (11 - i) AS INT)))) % m
      |      AS p
      |  FROM (SELECT mx + off AS key
      |        FROM range(1, 3001) toff(off)
      |        CROSS JOIN (SELECT MAX(o_custkey) AS mx FROM orders) tmx)
      |    CROSS JOIN ms CROSS JOIN range(7) tj(j)),
      |hits AS (
      |  SELECT pr.m, pr.key,
      |    CAST(SUM(CASE WHEN b.p IS NULL THEN 0 ELSE 1 END) AS BIGINT)
      |      AS nhit
      |  FROM probes pr LEFT JOIN bits b ON pr.m = b.m AND pr.p = b.p
      |  GROUP BY pr.m, pr.key),
      |agg AS (
      |  SELECT m, COUNT(*) AS n_probes,
      |    CAST(SUM(CASE WHEN nhit = 7 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_false_pos
      |  FROM hits GROUP BY m)
      |SELECT agg.m AS m_bits, CAST(7 AS BIGINT) AS k_hashes,
      |  CAST(n_members AS BIGINT) AS n_members,
      |  CAST(bits_set AS BIGINT) AS bits_set,
      |  CAST(n_probes AS BIGINT) AS n_probes, n_false_pos,
      |  FLOOR(CAST(n_false_pos AS DOUBLE) / n_probes * 1e6 + 0.5) / 1e6
      |    + 0 AS fpr_obs,
      |  FLOOR(pow(1.0 - pow(1.0 - 1.0 / agg.m,
      |      7.0 * CAST(n_members AS DOUBLE)), 7.0) * 1e6 + 0.5) / 1e6
      |    + 0 AS fpr_exp
      |FROM agg JOIN bc ON agg.m = bc.m CROSS JOIN nrow
      |ORDER BY m_bits""".stripMargin
}
