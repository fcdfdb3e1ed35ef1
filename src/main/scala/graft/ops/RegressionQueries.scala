package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The regression-INFERENCE finishers (round 13, batch 8) on top of
  * q298's Gram-matrix fit and q306's heteroscedasticity verdict:
  *
  * - q311 White/HC1 robust standard errors — q306 PROVED the errors
  *   are heteroscedastic; this is the repair: sandwich variances
  *   (X'X)⁻¹·X'diag(e²)X·(X'X)⁻¹ with the HC1 small-sample factor,
  *   reported NEXT TO the classical s²(X'X)⁻¹ so the inflation is
  *   visible.
  * - q312 leverage + Cook's distance influence screen — WHICH orders
  *   move the fit: h_i = x_i'(X'X)⁻¹x_i and D_i = e_i²h_i/(p·s²(1−h_i)²),
  *   top-20.
  *
  * Everything rides the SAME exact-moment construction as q298: one
  * map-side Gram agg (now with the six e²-weighted "meat" moments,
  * cent-quantized residuals keeping them exact DECIMAL/HUGEINT), the
  * 3×3 inverse written out as the symmetric adjugate over the
  * determinant — closed form, no iteration, no matrix library — and
  * one 1-row broadcast back onto the per-order census (q242 form).
  */
object RegressionQueries {

  /** Per-order census shared by the whole q298 family: per
    * `l_orderkey`, the order's cents `y`, units `x1` and line count
    * `x2` (q293, q298, q306, q311, q312, q315, q316).
    * [[perOrderSql]] is its oracle twin; the two change together. */
  private[ops] def perOrder(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).groupBy("l_orderkey")
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("y"),
        sum(expr("cast(round(l_quantity) as bigint)")).as("x1"),
        count(lit(1)).as("x2"))
      // r19 note: an explicit re-spread before the consumers'
      // checkpoints was tried and reverted — measured flat-to-slower
      // across q306/q311/q312/q315/q316 (the census shuffle cost ate
      // the Gram-stage parallelism gain)

  /** The oracle twin of [[perOrder]]; the two change together. */
  private[ops] val perOrderSql: String =
    """SELECT l_orderkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS y,
      |    CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS x1,
      |    COUNT(*) AS x2
      |  FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** Gram moments (q298's ten) of a [[perOrder]] census as one
    * map-side agg, exact in DECIMAL(38,0). [[gramSql]] is its oracle
    * twin over relation `per`; the two change together. */
  private[ops] def gram(per: DataFrame): DataFrame = {
    def d(c: String) = col(c).cast(dec)
    per.agg(count(lit(1)).as("n"),
      sum(d("x1")).as("s1"), sum(d("x2")).as("s2"), sum(d("y")).as("sy"),
      sum(d("x1") * d("x1")).as("s11"), sum(d("x2") * d("x2")).as("s22"),
      sum(d("x1") * d("x2")).as("s12"), sum(d("x1") * d("y")).as("s1y"),
      sum(d("x2") * d("y")).as("s2y"), sum(d("y") * d("y")).as("syy"))
  }

  /** The oracle twin of [[gram]]; the two change together. */
  private[ops] val gramSql: String =
    """SELECT COUNT(*) AS n,
      |    CAST(SUM(x1) AS HUGEINT) AS s1, CAST(SUM(x2) AS HUGEINT) AS s2,
      |    CAST(SUM(y) AS HUGEINT) AS sy,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12,
      |    CAST(SUM(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
      |    CAST(SUM(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
      |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
      |  FROM per""".stripMargin

  /** Symmetric adjugate entries + determinant + betas as Columns over
    * the double-cast Gram moments. Shared by q311/q312. */
  private def solved(gf: DataFrame): DataFrame = {
    def f(c: String) = col(c).cast("double")
    val (n, s1, s2) = (f("n"), f("s1"), f("s2"))
    val (s11, s22, s12) = (f("s11"), f("s22"), f("s12"))
    val c00 = s11 * s22 - s12 * s12
    val c01 = -(s1 * s22 - s12 * s2)
    val c02 = s1 * s12 - s11 * s2
    val c11 = n * s22 - s2 * s2
    val c12 = -(n * s12 - s1 * s2)
    val c22 = n * s11 - s1 * s1
    val det = n * c00 + s1 * c01 + s2 * c02
    def beta(cj0: Column, cj1: Column, cj2: Column) =
      (cj0 * f("sy") + cj1 * f("s1y") + cj2 * f("s2y")) / det
    gf.select(col("*"),
      c00.as("c00"), c01.as("c01"), c02.as("c02"),
      c11.as("c11"), c12.as("c12"), c22.as("c22"), det.as("det"),
      beta(c00, c01, c02).as("b0"),
      beta(c01, c11, c12).as("b1"),
      beta(c02, c12, c22).as("b2"))
  }

  private val solvedSql: String =
    """SELECT g.*,
      |    CAST(n AS DOUBLE) AS nf,
      |    (CAST(s11 AS DOUBLE) * CAST(s22 AS DOUBLE)
      |      - CAST(s12 AS DOUBLE) * CAST(s12 AS DOUBLE)) AS c00,
      |    -(CAST(s1 AS DOUBLE) * CAST(s22 AS DOUBLE)
      |      - CAST(s12 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS c01,
      |    (CAST(s1 AS DOUBLE) * CAST(s12 AS DOUBLE)
      |      - CAST(s11 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS c02,
      |    (CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS c11,
      |    -(CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)) AS c12,
      |    (CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)) AS c22
      |  FROM g""".stripMargin

  private val solved2Sql: String =
    """SELECT *,
      |    (nf * c00 + CAST(s1 AS DOUBLE) * c01 + CAST(s2 AS DOUBLE) * c02)
      |      AS det
      |  FROM sv0""".stripMargin

  private val solved3Sql: String =
    """SELECT *,
      |    (c00 * CAST(sy AS DOUBLE) + c01 * CAST(s1y AS DOUBLE)
      |      + c02 * CAST(s2y AS DOUBLE)) / det AS b0,
      |    (c01 * CAST(sy AS DOUBLE) + c11 * CAST(s1y AS DOUBLE)
      |      + c12 * CAST(s2y AS DOUBLE)) / det AS b1,
      |    (c02 * CAST(sy AS DOUBLE) + c12 * CAST(s1y AS DOUBLE)
      |      + c22 * CAST(s2y AS DOUBLE)) / det AS b2
      |  FROM sv1""".stripMargin

  /** Shared SQL prefix: per-order census → Gram → adjugate/det/betas →
    * cent-quantized residuals. */
  private val commonSql: String =
    s"""WITH per AS ($perOrderSql),
       |g AS ($gramSql),
       |sv0 AS ($solvedSql),
       |sv1 AS ($solved2Sql),
       |sv AS ($solved3Sql),
       |res AS (
       |  SELECT per.*, sv.*,
       |    CAST(FLOOR(CAST(per.y AS DOUBLE) - sv.b0
       |      - sv.b1 * CAST(per.x1 AS DOUBLE)
       |      - sv.b2 * CAST(per.x2 AS DOUBLE) + 0.5) AS BIGINT) AS e
       |  FROM per CROSS JOIN sv)""".stripMargin

  /** L243 White/HC1 heteroscedasticity-robust standard errors ([PK]
    * White 1980; MacKinnon & White 1985 HC1): the repair q306
    * licenses. Sandwich V = (X'X)⁻¹ · X'diag(e²)X · (X'X)⁻¹ ·
    * n/(n−p), reported beside the classical s²(X'X)⁻¹ so the
    * inflation factor is visible per coefficient (the fixture's
    * lines-driven variance inflates the lines SE most — pinned).
    *
    * Parity: the six meat moments Σe²·{1,x₁,x₂,x₁²,x₁x₂,x₂²} use
    * cent-quantized residuals (exact int64 → DECIMAL/HUGEINT sums —
    * e²x₁² stays ≤ ~10²⁶ at sf0.1, inside 38 digits to ~10⁹ orders);
    * the 3×3 inverse is the symmetric ADJUGATE over the determinant —
    * (CMC)ⱼⱼ expands to six products per coefficient, one fixed double
    * chain, no matrix library, no iteration.
    *
    * Scale: census pass 1 (Gram) + census pass 2 (meat) over one lazy
    * checkpoint; 1-row broadcast between them (q242 form). */
  def q311WhiteHc1(s: SparkSession, dir: String): DataFrame = {
    val per = perOrder(s, dir).localCheckpoint(eager = false)
    val sv = solved(gram(per))
    val resid = per.crossJoin(broadcast(sv))
      .withColumn("e",
        floor(col("y").cast("double") - col("b0") -
          col("b1") * col("x1").cast("double") -
          col("b2") * col("x2").cast("double") + 0.5).cast("long"))
    def dd(c: Column) = c.cast(dec)
    val m = resid.groupBy("n", "c00", "c01", "c02", "c11", "c12",
        "c22", "det", "b0", "b1", "b2", "syy", "sy", "s1y", "s2y")
      .agg(sum(dd(col("e")) * col("e")).as("m00"),
        sum(dd(col("e")) * col("e") * dd(col("x1"))).as("m01"),
        sum(dd(col("e")) * col("e") * dd(col("x2"))).as("m02"),
        sum(dd(col("e")) * col("e") * dd(col("x1")) * dd(col("x1")))
          .as("m11"),
        sum(dd(col("e")) * col("e") * dd(col("x1")) * dd(col("x2")))
          .as("m12"),
        sum(dd(col("e")) * col("e") * dd(col("x2")) * dd(col("x2")))
          .as("m22"))
    def f(c: String) = col(c).cast("double")
    val n = f("n")
    // classical: s² (X'X)⁻¹_jj = s²·C_jj/det
    val sse = f("syy") - col("b0") * f("sy") - col("b1") * f("s1y") -
      col("b2") * f("s2y")
    val s2hat = sse / (n - 3.0)
    def vjj(cj0: Column, cj1: Column, cj2: Column) =
      (cj0 * cj0 * f("m00") + cj1 * cj1 * f("m11") +
        cj2 * cj2 * f("m22") +
        lit(2.0) * cj0 * cj1 * f("m01") +
        lit(2.0) * cj0 * cj2 * f("m02") +
        lit(2.0) * cj1 * cj2 * f("m12")) /
        (col("det") * col("det")) * (n / (n - 3.0))
    val seC1 = sqrt(s2hat * col("c11") / col("det"))
    val seC2 = sqrt(s2hat * col("c22") / col("det"))
    val seR1 = sqrt(vjj(col("c01"), col("c11"), col("c12")))
    val seR2 = sqrt(vjj(col("c02"), col("c12"), col("c22")))
    val bad = col("n") < 5L || col("det") <= 0.0
    def out(c: Column, nm: String, sc: Int = 6) =
      when(bad, lit(null).cast("double"))
        .otherwise(round(c, sc) + 0.0).as(nm)
    m.select(col("n").cast("long").as("n_orders"),
      out(col("b1"), "beta_units"), out(col("b2"), "beta_lines"),
      out(seC1, "se_cl_units", 4), out(seR1, "se_hc1_units", 4),
      out(seC2, "se_cl_lines", 4), out(seR2, "se_hc1_lines", 4),
      out(col("b1") / seR1, "t_hc1_units", 4),
      out(col("b2") / seR2, "t_hc1_lines", 4))
  }

  val q311WhiteHc1Sql: String =
    commonSql +
      """,
        |m AS (
        |  SELECT MAX(n) AS n, MAX(nf) AS nf, MAX(c00) AS c00,
        |    MAX(c01) AS c01, MAX(c02) AS c02, MAX(c11) AS c11,
        |    MAX(c12) AS c12, MAX(c22) AS c22, MAX(det) AS det,
        |    MAX(b0) AS b0, MAX(b1) AS b1, MAX(b2) AS b2,
        |    MAX(CAST(syy AS DOUBLE)) AS syyf,
        |    MAX(CAST(sy AS DOUBLE)) AS syf,
        |    MAX(CAST(s1y AS DOUBLE)) AS s1yf,
        |    MAX(CAST(s2y AS DOUBLE)) AS s2yf,
        |    CAST(SUM(CAST(e AS HUGEINT) * e) AS DOUBLE) AS m00,
        |    CAST(SUM(CAST(e AS HUGEINT) * e * x1) AS DOUBLE) AS m01,
        |    CAST(SUM(CAST(e AS HUGEINT) * e * x2) AS DOUBLE) AS m02,
        |    CAST(SUM(CAST(e AS HUGEINT) * e * x1 * x1) AS DOUBLE) AS m11,
        |    CAST(SUM(CAST(e AS HUGEINT) * e * x1 * x2) AS DOUBLE) AS m12,
        |    CAST(SUM(CAST(e AS HUGEINT) * e * x2 * x2) AS DOUBLE) AS m22
        |  FROM res),
        |fin AS (
        |  SELECT *,
        |    (syyf - b0 * syf - b1 * s1yf - b2 * s2yf) / (nf - 3.0)
        |      AS s2hat,
        |    (n < 5 OR det <= 0) AS bad,
        |    (c01 * c01 * m00 + c11 * c11 * m11 + c12 * c12 * m22
        |      + 2.0 * c01 * c11 * m01 + 2.0 * c01 * c12 * m02
        |      + 2.0 * c11 * c12 * m12) / (det * det) * (nf / (nf - 3.0))
        |      AS v1,
        |    (c02 * c02 * m00 + c12 * c12 * m11 + c22 * c22 * m22
        |      + 2.0 * c02 * c12 * m01 + 2.0 * c02 * c22 * m02
        |      + 2.0 * c12 * c22 * m12) / (det * det) * (nf / (nf - 3.0))
        |      AS v2
        |  FROM m)
        |SELECT n AS n_orders,
        |  CASE WHEN bad THEN NULL ELSE ROUND(b1, 6) + 0 END AS beta_units,
        |  CASE WHEN bad THEN NULL ELSE ROUND(b2, 6) + 0 END AS beta_lines,
        |  CASE WHEN bad THEN NULL
        |    ELSE ROUND(SQRT(s2hat * c11 / det), 4) + 0 END AS se_cl_units,
        |  CASE WHEN bad THEN NULL ELSE ROUND(SQRT(v1), 4) + 0 END
        |    AS se_hc1_units,
        |  CASE WHEN bad THEN NULL
        |    ELSE ROUND(SQRT(s2hat * c22 / det), 4) + 0 END AS se_cl_lines,
        |  CASE WHEN bad THEN NULL ELSE ROUND(SQRT(v2), 4) + 0 END
        |    AS se_hc1_lines,
        |  CASE WHEN bad THEN NULL ELSE ROUND(b1 / SQRT(v1), 4) + 0 END
        |    AS t_hc1_units,
        |  CASE WHEN bad THEN NULL ELSE ROUND(b2 / SQRT(v2), 4) + 0 END
        |    AS t_hc1_lines
        |FROM fin""".stripMargin

  /** L244 leverage + Cook's distance influence screen ([PK] Cook 1977;
    * Belsley, Kuh & Welsch 1980): WHICH orders move q298's fit —
    * h_i = x_i'(X'X)⁻¹x_i (hat-matrix diagonal, expanded through the
    * adjugate: six products per row) and D_i = e_i²·h_i /
    * (p·s²·(1−h_i)²); top 20 by D. The per-row companion of q311's
    * global repair: a pipeline drops or winsorizes these rows before
    * refitting (q303's trimming, per-observation).
    *
    * Parity: h is one double chain from the broadcast adjugate and the
    * row's exact ints — identical both engines; ranking uses the RAW
    * double D (same bits) with o_orderkey tiebreak, so the top-20 cut
    * is deterministic; display rounds after the cut.
    *
    * Scale: one census pass + 1-row broadcast + TakeOrdered(20). */
  def q312CooksDistance(s: SparkSession, dir: String): DataFrame = {
    val per = perOrder(s, dir).localCheckpoint(eager = false)
    val sv = solved(gram(per))
    val j = per.crossJoin(broadcast(sv))
      .withColumn("e",
        floor(col("y").cast("double") - col("b0") -
          col("b1") * col("x1").cast("double") -
          col("b2") * col("x2").cast("double") + 0.5).cast("long"))
    def f(c: String) = col(c).cast("double")
    val x1 = f("x1"); val x2 = f("x2")
    val h = (col("c00") + lit(2.0) * col("c01") * x1 +
      lit(2.0) * col("c02") * x2 + col("c11") * x1 * x1 +
      lit(2.0) * col("c12") * x1 * x2 + col("c22") * x2 * x2) /
      col("det")
    val sse = f("syy") - col("b0") * f("sy") - col("b1") * f("s1y") -
      col("b2") * f("s2y")
    val s2hat = sse / (f("n") - 3.0)
    val d = f("e") * f("e") * h /
      (lit(3.0) * s2hat * (lit(1.0) - h) * (lit(1.0) - h))
    j.withColumn("lev", h).withColumn("cook", d)
      .orderBy(col("cook").desc, col("l_orderkey"))
      .limit(20)
      .select(col("l_orderkey"), col("x2").as("n_lines"),
        col("x1").as("units"), col("e").as("resid_cents"),
        Parity.fix(col("lev"), 6).as("leverage"),
        Parity.fix(col("cook"), 6).as("cooks_d"))
      .orderBy(col("cooks_d").desc, col("l_orderkey"))
  }

  val q312CooksDistanceSql: String =
    commonSql +
      s""",
        |hd AS (
        |  SELECT l_orderkey, x1, x2, e,
        |    (c00 + 2.0 * c01 * x1 + 2.0 * c02 * x2 + c11 * x1 * x1
        |      + 2.0 * c12 * x1 * x2 + c22 * x2 * x2) / det AS h,
        |    (CAST(syy AS DOUBLE) - b0 * CAST(sy AS DOUBLE)
        |      - b1 * CAST(s1y AS DOUBLE) - b2 * CAST(s2y AS DOUBLE))
        |      / (nf - 3.0) AS s2hat
        |  FROM res),
        |dd AS (
        |  SELECT l_orderkey, x2 AS n_lines, x1 AS units, e AS resid_cents,
        |    h,
        |    CAST(e AS DOUBLE) * e * h
        |      / (3.0 * s2hat * (1.0 - h) * (1.0 - h)) AS cook
        |  FROM hd)
        |SELECT l_orderkey, n_lines, units, resid_cents, leverage, cooks_d
        |FROM (
        |  SELECT l_orderkey, n_lines, units, resid_cents,
        |    ${Parity.fixSql("h", 6)} AS leverage,
        |    ${Parity.fixSql("cook", 6)} AS cooks_d
        |  FROM dd ORDER BY cook DESC, l_orderkey LIMIT 20)
        |ORDER BY cooks_d DESC, l_orderkey""".stripMargin

  /** L249 Mahalanobis multivariate outlier screen ([PK] Mahalanobis
    * 1936; the χ²_p calibration is the classical multivariate QC
    * rule): top-20 orders by D² = (x−μ)'Σ⁻¹(x−μ) over the
    * (revenue, units, lines) triple. The JOINT-geometry companion of
    * q312: Cook's distance sees only what moves the regression fit —
    * an order whose huge units and huge revenue sit ON the fitted
    * plane has a tiny residual but an extreme D²; conversely q215's
    * univariate MAD screen misses in-range values in an impossible
    * COMBINATION. D² against χ²₃ quantiles (99.9% = 16.27) calibrates
    * the screen.
    *
    * Parity: with u = n·x − S (exact ints) and V = [n·S_ij − S_i·S_j]
    * (exact-sum doubles, n²·cov), D² = u'·adj(V)·u / det(V) — the
    * n-scalings cancel, so no mean or covariance ever materializes as
    * a rounded intermediate; one fixed double chain, raw-D² ranking
    * with key tiebreak (deterministic cut), display rounding after.
    *
    * Scale: one census pass + the 1-row moment broadcast +
    * TakeOrdered(20). */
  def q315Mahalanobis(s: SparkSession, dir: String): DataFrame = {
    val per = perOrder(s, dir).localCheckpoint(eager = false)
    def d(c: String) = col(c).cast(dec)
    val g = per.agg(count(lit(1)).as("n"),
      sum(d("y")).as("sy"), sum(d("x1")).as("s1"), sum(d("x2")).as("s2"),
      sum(d("y") * d("y")).as("syy"), sum(d("x1") * d("x1")).as("s11"),
      sum(d("x2") * d("x2")).as("s22"), sum(d("y") * d("x1")).as("sy1"),
      sum(d("y") * d("x2")).as("sy2"), sum(d("x1") * d("x2")).as("s12"))
    def f(c: String) = col(c).cast("double")
    val n = f("n")
    // V = n²·cov (symmetric): v00=yy, v01=y·x1, v02=y·x2, v11, v12, v22
    val v00 = n * f("syy") - f("sy") * f("sy")
    val v01 = n * f("sy1") - f("sy") * f("s1")
    val v02 = n * f("sy2") - f("sy") * f("s2")
    val v11 = n * f("s11") - f("s1") * f("s1")
    val v12 = n * f("s12") - f("s1") * f("s2")
    val v22 = n * f("s22") - f("s2") * f("s2")
    // symmetric adjugate + determinant of V
    val a00 = v11 * v22 - v12 * v12
    val a01 = -(v01 * v22 - v12 * v02)
    val a02 = v01 * v12 - v11 * v02
    val a11 = v00 * v22 - v02 * v02
    val a12 = -(v00 * v12 - v01 * v02)
    val a22 = v00 * v11 - v01 * v01
    val detV = v00 * a00 + v01 * a01 + v02 * a02
    val sv = g.select(col("n"), col("sy"), col("s1"), col("s2"),
      a00.as("a00"), a01.as("a01"), a02.as("a02"), a11.as("a11"),
      a12.as("a12"), a22.as("a22"), detV.as("detv"))
    val j = per.crossJoin(broadcast(sv))
      .withColumn("u0", col("n") * col("y") - col("sy"))
      .withColumn("u1", col("n") * col("x1") - col("s1"))
      .withColumn("u2", col("n") * col("x2") - col("s2"))
    def fu(c: String) = col(c).cast("double")
    val d2 = (fu("u0") * fu("u0") * col("a00") +
      fu("u1") * fu("u1") * col("a11") +
      fu("u2") * fu("u2") * col("a22") +
      lit(2.0) * fu("u0") * fu("u1") * col("a01") +
      lit(2.0) * fu("u0") * fu("u2") * col("a02") +
      lit(2.0) * fu("u1") * fu("u2") * col("a12")) / col("detv")
    j.withColumn("d2", d2)
      .orderBy(col("d2").desc, col("l_orderkey"))
      .limit(20)
      .select(col("l_orderkey"), col("y").as("rev_cents"),
        col("x1").as("units"), col("x2").as("n_lines"),
        Parity.fix(col("d2"), 4).as("mahal_d2"))
      .orderBy(col("mahal_d2").desc, col("l_orderkey"))
  }

  /** L250 split-conformal prediction quantiles ([PK] Vovk et al. 2005;
    * Lei et al. 2018; Angelopoulos & Bates 2021 tutorial): the
    * distribution-free prediction-interval radius for q298's
    * regression — q̂_α = the ⌈(n+1)(1−α)⌉-th smallest absolute
    * residual, reported for α ∈ {10%, 5%, 1%} with the EXACT
    * empirical coverage each radius achieves. The modern uncertainty
    * finisher of the inference stack: q311 fixed the SEs, q312/q315
    * found the outliers, this turns the residuals into calibrated
    * "±q̂ covers ≥ 1−α of orders" bands with no normality assumption.
    *
    * Exactness: |e| is cent-quantized (exact int64); the order
    * statistic comes off the value census + running counts (the q303
    * machinery — no per-row sort), k = ⌈(n+1)(10000−α_bps)/10000⌉ in
    * pure integer arithmetic, and coverage is the exact integer
    * division (cum·10⁶) div n. No doubles anywhere after the
    * residual.
    *
    * Scale: census pass + one in-group running count over the
    * domain-bounded |e| census + a 3-row α broadcast. */
  def q316ConformalQuantile(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = perOrder(s, dir).localCheckpoint(eager = false)
    val sv = solved(gram(per))
    val absE = per.crossJoin(broadcast(sv))
      .select(abs(floor(col("y").cast("double") - col("b0") -
        col("b1") * col("x1").cast("double") -
        col("b2") * col("x2").cast("double") + 0.5).cast("long"))
        .as("ae"), col("n"))
    // lazy checkpoint: the census feeds BOTH the quantile search and
    // the coverage read-back — without it the Gram broadcast re-plans
    // per branch (BNLJ ×3)
    val census = absE.groupBy("n", "ae").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(Window.orderBy("ae")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint(eager = false)
    val al = s.range(1)
      .select(explode(typedlit(Seq(1000L, 500L, 100L))).as("alpha_bps"))
    val j = census.crossJoin(broadcast(al))
      .withColumn("k",
        expr("((n + 1) * (10000 - alpha_bps) + 9999) div 10000"))
    val g = j.groupBy("alpha_bps")
      .agg(max(col("n")).as("n"), max(col("k")).as("k_rank"),
        min(when(col("cum") >= col("k"), col("ae"))).as("q_hat"))
    val cov = census.select(col("ae"), col("cum"))
    // LEFT join (r14, advisor fix): when k_rank > n (tiny corpora,
    // n < 99 for α = 1%), the empirical quantile is undefined → q_hat
    // null — the α row must still appear, with null q_hat/coverage,
    // so the output is always exactly three rows regardless of data
    // size. (Null cum propagates to null coverage through the div.)
    g.join(cov, g("q_hat") === cov("ae"), "left")
      .select(col("alpha_bps"), col("n").cast("long").as("n_orders"),
        col("k_rank").cast("long").as("k_rank"),
        col("q_hat").as("q_hat_cents"),
        (expr("cum * 1000000 div n").cast("double") / 1e6)
          .as("coverage"))
      .orderBy("alpha_bps")
  }

  val q316ConformalQuantileSql: String =
    s"""WITH per AS ($perOrderSql),
       |g AS ($gramSql),
       |sv0 AS ($solvedSql),
       |sv1 AS ($solved2Sql),
       |sv AS ($solved3Sql),
       |ae AS (
       |  SELECT ABS(CAST(FLOOR(CAST(per.y AS DOUBLE) - sv.b0
       |      - sv.b1 * CAST(per.x1 AS DOUBLE)
       |      - sv.b2 * CAST(per.x2 AS DOUBLE) + 0.5) AS BIGINT)) AS ae,
       |    sv.n
       |  FROM per CROSS JOIN sv),
       |census AS (
       |  SELECT n, ae, COUNT(*) AS c,
       |    CAST(SUM(COUNT(*)) OVER (ORDER BY ae
       |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM ae GROUP BY n, ae),
       |al AS (SELECT unnest([1000, 500, 100]) AS alpha_bps),
       |j AS (
       |  SELECT census.*, al.alpha_bps,
       |    ((n + 1) * (10000 - al.alpha_bps) + 9999) // 10000 AS k
       |  FROM census CROSS JOIN al),
       |gq AS (
       |  SELECT alpha_bps, MAX(n) AS n, MAX(k) AS k_rank,
       |    MIN(CASE WHEN cum >= k THEN ae END) AS q_hat
       |  FROM j GROUP BY alpha_bps)
       |SELECT CAST(gq.alpha_bps AS BIGINT) AS alpha_bps,
       |  CAST(gq.n AS BIGINT) AS n_orders,
       |  CAST(gq.k_rank AS BIGINT) AS k_rank,
       |  CAST(gq.q_hat AS BIGINT) AS q_hat_cents,
       |  CAST(census.cum * 1000000 // gq.n AS DOUBLE) / 1e6 AS coverage
       |FROM gq LEFT JOIN census ON gq.q_hat = census.ae
       |ORDER BY alpha_bps""".stripMargin

  val q315MahalanobisSql: String =
    s"""WITH per AS ($perOrderSql),
       |g AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(y) AS HUGEINT) AS sy, CAST(SUM(x1) AS HUGEINT) AS s1,
       |    CAST(SUM(x2) AS HUGEINT) AS s2,
       |    CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy,
       |    CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS HUGEINT) AS s11,
       |    CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS HUGEINT) AS s22,
       |    CAST(SUM(CAST(y AS HUGEINT) * x1) AS HUGEINT) AS sy1,
       |    CAST(SUM(CAST(y AS HUGEINT) * x2) AS HUGEINT) AS sy2,
       |    CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS HUGEINT) AS s12
       |  FROM per),
       |vv AS (
       |  SELECT n, sy, s1, s2,
       |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS v00,
       |    CAST(n AS DOUBLE) * CAST(sy1 AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(s1 AS DOUBLE) AS v01,
       |    CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
       |      - CAST(sy AS DOUBLE) * CAST(s2 AS DOUBLE) AS v02,
       |    CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
       |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS v11,
       |    CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
       |      - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE) AS v12,
       |    CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
       |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS v22
       |  FROM g),
       |aa AS (
       |  SELECT *,
       |    (v11 * v22 - v12 * v12) AS a00,
       |    -(v01 * v22 - v12 * v02) AS a01,
       |    (v01 * v12 - v11 * v02) AS a02,
       |    (v00 * v22 - v02 * v02) AS a11,
       |    -(v00 * v12 - v01 * v02) AS a12,
       |    (v00 * v11 - v01 * v01) AS a22
       |  FROM vv),
       |dd0 AS (
       |  SELECT *, (v00 * a00 + v01 * a01 + v02 * a02) AS detv
       |  FROM aa),
       |u AS (
       |  SELECT per.l_orderkey, per.y, per.x1, per.x2, dd0.*,
       |    CAST(dd0.n AS HUGEINT) * per.y - dd0.sy AS u0,
       |    CAST(dd0.n AS HUGEINT) * per.x1 - dd0.s1 AS u1,
       |    CAST(dd0.n AS HUGEINT) * per.x2 - dd0.s2 AS u2
       |  FROM per CROSS JOIN dd0),
       |dd AS (
       |  SELECT l_orderkey, y, x1, x2,
       |    (CAST(u0 AS DOUBLE) * CAST(u0 AS DOUBLE) * a00
       |      + CAST(u1 AS DOUBLE) * CAST(u1 AS DOUBLE) * a11
       |      + CAST(u2 AS DOUBLE) * CAST(u2 AS DOUBLE) * a22
       |      + 2.0 * CAST(u0 AS DOUBLE) * CAST(u1 AS DOUBLE) * a01
       |      + 2.0 * CAST(u0 AS DOUBLE) * CAST(u2 AS DOUBLE) * a02
       |      + 2.0 * CAST(u1 AS DOUBLE) * CAST(u2 AS DOUBLE) * a12)
       |      / detv AS d2
       |  FROM u)
       |SELECT l_orderkey, rev_cents, units, n_lines, mahal_d2
       |FROM (
       |  SELECT l_orderkey, y AS rev_cents, x1 AS units, x2 AS n_lines,
       |    ${Parity.fixSql("d2", 4)} AS mahal_d2
       |  FROM dd ORDER BY d2 DESC, l_orderkey LIMIT 20)
       |ORDER BY mahal_d2 DESC, l_orderkey""".stripMargin

  /** L305 variance-inflation-factor panel ([PK] any regression text,
    * e.g. Kutner et al. §10.5) — the multicollinearity diagnosis the
    * q298/q311 fit family assumes away: for the three daily-census
    * predictors (order count, revenue, 7-day rolling revenue sum),
    * VIF_j = 1/(1 − R²_j) from regressing each on the other two. For
    * three predictors the whole panel is closed-form in the three
    * pairwise correlations: det = 1 − r₁₂² − r₁₃² − r₂₃² + 2r₁₂r₁₃r₂₃
    * and VIF₁ = (1 − r₂₃²)/det (cyclically). Measured: count↔revenue
    * collinearity drives VIF to ~3.8/4.0 at sf0.01 while the
    * smoothed predictor stays near 1.2 — the panel that says WHICH
    * coefficient SEs q311 inflates.
    *
    * Parity: the nine (co)moment sums are exact DECIMAL(38) over the
    * day census (the q298 discipline); the three correlations and
    * the VIF chain are one fixed double chain, 4dp/6dp on output.
    *
    * Scale: one fact-scan day rollup, one rolling window over the
    * scale-constant census, ONE 9-moment aggregate, 3-row output. */
  def q370VifPanel(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = SeriesStats.daily2(s, dir)
    val w = Window.orderBy("day").rowsBetween(-6, 0)
    val base = d
      .withColumn("ma7", sum(col("rev")).over(w))
      .withColumn("pos", row_number().over(Window.orderBy("day")))
      .filter(col("pos") >= 7)
      .select(col("cnt").cast(dec).as("x1"), col("rev").cast(dec).as("x2"),
        col("ma7").cast(dec).as("x3"))
    val m = base.agg(count(lit(1)).as("n"),
      sum(col("x1")).as("s1"), sum(col("x2")).as("s2"),
      sum(col("x3")).as("s3"),
      sum(col("x1") * col("x1")).as("s11"),
      sum(col("x2") * col("x2")).as("s22"),
      sum(col("x3") * col("x3")).as("s33"),
      sum(col("x1") * col("x2")).as("s12"),
      sum(col("x1") * col("x3")).as("s13"),
      sum(col("x2") * col("x3")).as("s23"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    // ANSI-safe divisors (fuzz seed 133): codegen subexpression
    // elimination can hoist these shared divisions OUT of the
    // CASE-WHEN guard, and Spark 4 ANSI throws on an exact-zero
    // divisor — clamp to a subnormal floor (a no-op whenever the
    // `bad` guard below isn't already nulling the row)
    def corr(sab: String, sa: String, sb: String, saa: String,
        sbb: String): Column =
      (n * dd(sab) - dd(sa) * dd(sb)) /
        greatest(sqrt(n * dd(saa) - dd(sa) * dd(sa)) *
          sqrt(n * dd(sbb) - dd(sb) * dd(sb)), lit(1e-300))
    val r12 = corr("s12", "s1", "s2", "s11", "s22")
    val r13 = corr("s13", "s1", "s3", "s11", "s33")
    val r23 = corr("s23", "s2", "s3", "s22", "s33")
    val det0 = lit(1.0) - r12 * r12 - r13 * r13 - r23 * r23 +
      lit(2.0) * r12 * r13 * r23
    val det = when(abs(det0) < 1e-9, lit(1.0)).otherwise(det0)
    // fuzz hardening (the q251 convention): a degenerate census —
    // too few days, a constant predictor, or a singular correlation
    // matrix — nulls the panel instead of pushing NaN/Inf through
    // ANSI casts
    def v(saa: String, sa: String) =
      n * dd(saa) - dd(sa) * dd(sa)
    val bad = col("n") < 10L || v("s11", "s1") <= 0.0 ||
      v("s22", "s2") <= 0.0 || v("s33", "s3") <= 0.0 ||
      abs(det0) < 1e-9
    def guard(c: Column): Column =
      when(bad, lit(null).cast("double")).otherwise(c)
    val wide = m.select(col("n").as("n_days"),
      guard(Parity.fix((lit(1.0) - r23 * r23) / det, 4)).as("vif_cnt"),
      guard(Parity.fix((lit(1.0) - r13 * r13) / det, 4)).as("vif_rev"),
      guard(Parity.fix((lit(1.0) - r12 * r12) / det, 4)).as("vif_ma7"),
      guard(Parity.fix(lit(1.0) - r23 * r23, 6)).as("num_cnt"),
      guard(Parity.fix(lit(1.0) - r13 * r13, 6)).as("num_rev"),
      guard(Parity.fix(lit(1.0) - r12 * r12, 6)).as("num_ma7"))
    wide.select(col("n_days"),
        expr("stack(3, 'cnt', vif_cnt, num_cnt," +
          " 'ma7', vif_ma7, num_ma7," +
          " 'rev', vif_rev, num_rev)" +
          " as (predictor, vif, num_1mr2)"))
      .select(col("predictor"), col("n_days"), col("vif"),
        col("num_1mr2"))
      .orderBy("predictor")
  }

  val q370VifPanelSql: String =
    s"""WITH d AS (${SeriesStats.daily2Sql}),
      |b AS (
      |  SELECT CAST(cnt AS HUGEINT) AS x1, CAST(rev AS HUGEINT) AS x2,
      |    CAST(SUM(rev) OVER (ORDER BY day
      |      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS HUGEINT) AS x3,
      |    ROW_NUMBER() OVER (ORDER BY day) AS pos
      |  FROM d QUALIFY pos >= 7),
      |m AS (
      |  SELECT COUNT(*) AS n,
      |    SUM(x1) AS s1, SUM(x2) AS s2, SUM(x3) AS s3,
      |    SUM(x1 * x1) AS s11, SUM(x2 * x2) AS s22, SUM(x3 * x3) AS s33,
      |    SUM(x1 * x2) AS s12, SUM(x1 * x3) AS s13, SUM(x2 * x3) AS s23
      |  FROM b),
      |c AS (
      |  SELECT CAST(n AS BIGINT) AS n_days,
      |    CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
      |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) AS v11,
      |    CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
      |      - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) AS v22,
      |    CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
      |      - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE) AS v33,
      |    (CAST(n AS DOUBLE) * CAST(s12 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |      / (sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
      |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |        * sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
      |          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))) AS r12,
      |    (CAST(n AS DOUBLE) * CAST(s13 AS DOUBLE)
      |        - CAST(s1 AS DOUBLE) * CAST(s3 AS DOUBLE))
      |      / (sqrt(CAST(n AS DOUBLE) * CAST(s11 AS DOUBLE)
      |          - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
      |        * sqrt(CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
      |          - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r13,
      |    (CAST(n AS DOUBLE) * CAST(s23 AS DOUBLE)
      |        - CAST(s2 AS DOUBLE) * CAST(s3 AS DOUBLE))
      |      / (sqrt(CAST(n AS DOUBLE) * CAST(s22 AS DOUBLE)
      |          - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE))
      |        * sqrt(CAST(n AS DOUBLE) * CAST(s33 AS DOUBLE)
      |          - CAST(s3 AS DOUBLE) * CAST(s3 AS DOUBLE))) AS r23
      |  FROM m),
      |f AS (
      |  SELECT n_days, r12, r13, r23,
      |    1.0 - r12 * r12 - r13 * r13 - r23 * r23
      |      + 2.0 * r12 * r13 * r23 AS det,
      |    (n_days < 10 OR v11 <= 0.0 OR v22 <= 0.0 OR v33 <= 0.0
      |      OR ABS(1.0 - r12 * r12 - r13 * r13 - r23 * r23
      |        + 2.0 * r12 * r13 * r23) < 1e-9) AS bad
      |  FROM c)
      |SELECT predictor, n_days,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("vif", 4)} + 0 END AS vif,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("num", 6)} + 0 END AS num_1mr2
      |FROM (
      |  SELECT n_days, bad, 'cnt' AS predictor,
      |    (1.0 - r23 * r23) / det AS vif, 1.0 - r23 * r23 AS num FROM f
      |  UNION ALL
      |  SELECT n_days, bad, 'ma7', (1.0 - r12 * r12) / det,
      |    1.0 - r12 * r12
      |  FROM f
      |  UNION ALL
      |  SELECT n_days, bad, 'rev', (1.0 - r13 * r13) / det,
      |    1.0 - r13 * r13
      |  FROM f)
      |ORDER BY predictor""".stripMargin

  /** L307 errors-in-variables regression panel ([PK] Deming 1943;
    * Ricker 1973 reduced-major-axis) — when BOTH variables carry
    * noise, OLS y~x attenuates the slope toward 0 and OLS x~y
    * inverted overshoots; Deming (λ=1) and RMA (geometric-mean)
    * regression sit between. Two pairs, two regimes (the q364/q367
    * convention): 'count_rev' (daily order count vs revenue — weakly
    * correlated, the bracket spans 2×, and Deming-λ=1 pegs at the
    * inverse bound because the units differ by ~10⁵: the SCALE-
    * DEPENDENCE lesson, measured not asserted — RMA is the
    * scale-free answer) and 'net_gross' (daily net vs gross revenue,
    * r ≈ 0.9999 — the method-comparison regime Deming was built for,
    * all four slopes pinned near 1.05). The exact algebraic identity
    * b_rma² = b_ols·b_inv is pinned in the spec.
    *
    * Parity: all moment sums exact DECIMAL(38)/HUGEINT over the day
    * census; each slope is one fixed double chain (the q370 corr
    * shape) with ONE terminal sqrt; 6dp.
    *
    * Scale: one fact-scan day rollup per pair, ONE 6-moment
    * aggregate each, 2-row output. */
  def q372EivPanel(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val pair1 = o
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(count(lit(1)).cast(dec).as("x"),
        sum(floor(col("o_totalprice") + 0.5).cast("long")).cast(dec)
          .as("y"))
      .select(lit("count_rev").as("pair"), col("x"), col("y"))
    val li = Tables.lineitem(s, dir)
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(Parity.quant(col("l_extendedprice") *
        (lit(1) - col("l_discount")), 100.0)).cast(dec).as("x"),
        sum(Parity.quant(col("l_extendedprice"), 100.0))
          .cast(dec).as("y"))
      .select(lit("net_gross").as("pair"), col("x"), col("y"))
    val m = pair1.unionByName(li).groupBy("pair").agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    val cxx = n * dd("sxx") - dd("sx") * dd("sx")
    val cyy = n * dd("syy") - dd("sy") * dd("sy")
    val cxy = n * dd("sxy") - dd("sx") * dd("sy")
    // ANSI-safe divisors (the q370 hoisting note): clamp away exact
    // zeros; no-ops whenever `bad` below isn't already nulling the row
    val cxxS = greatest(cxx, lit(1e-300))
    val cxyS = when(cxy === 0.0, lit(1.0)).otherwise(cxy)
    val r = cxy / greatest(sqrt(cxx) * sqrt(cyy), lit(1e-300))
    val bOls = cxy / cxxS
    val bInv = cyy / cxyS
    val bDem = (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx) +
      lit(4.0) * cxy * cxy)) / (lit(2.0) * cxyS)
    val bRma = signum(cxy) * sqrt(cyy) / greatest(sqrt(cxx), lit(1e-300))
    // fuzz hardening (q251 convention): degenerate day census —
    // constant x or y, or zero covariance — nulls the slopes
    val bad = col("n") < 3L || cxx <= 0.0 || cyy <= 0.0 || cxy === 0.0
    def guard(c: Column): Column =
      when(bad, lit(null).cast("double")).otherwise(c)
    m.select(col("pair"), col("n").as("n_days"),
        guard(Parity.fix(r, 6)).as("r"),
        guard(Parity.fix(bOls, 6)).as("b_ols"),
        guard(Parity.fix(bDem, 6)).as("b_deming"),
        guard(Parity.fix(bRma, 6)).as("b_rma"),
        guard(Parity.fix(bInv, 6)).as("b_inv"))
      .orderBy("pair")
  }

  val q372EivPanelSql: String =
    s"""WITH p1 AS (
      |  SELECT 'count_rev' AS pair, CAST(COUNT(*) AS HUGEINT) AS x,
      |    CAST(SUM(CAST(FLOOR(o_totalprice + 0.5) AS BIGINT)) AS HUGEINT)
      |      AS y
      |  FROM orders GROUP BY CAST(o_orderdate AS DATE)),
      |p2 AS (
      |  SELECT 'net_gross' AS pair,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
      |      + 0.5) AS BIGINT)) AS HUGEINT) AS x,
      |    CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
      |      AS HUGEINT) AS y
      |  FROM lineitem GROUP BY CAST(l_shipdate AS DATE)),
      |u AS (SELECT * FROM p1 UNION ALL SELECT * FROM p2),
      |m AS (
      |  SELECT pair, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |    SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
      |  FROM u GROUP BY pair),
      |c AS (
      |  SELECT pair, CAST(n AS BIGINT) AS n_days,
      |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS cxx,
      |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS cyy,
      |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cxy,
      |    (n < 3 OR CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0.0
      |      OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0.0
      |      OR CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0) AS bad
      |  FROM m)
      |SELECT pair, n_days,
      |  CASE WHEN bad THEN NULL ELSE
      |    ${Parity.fixSql("cxy / (sqrt(cxx) * sqrt(cyy))", 6)} + 0
      |    END AS r,
      |  CASE WHEN bad THEN NULL ELSE
      |    ${Parity.fixSql("cxy / cxx", 6)} + 0 END AS b_ols,
      |  CASE WHEN bad THEN NULL ELSE
      |    ${Parity.fixSql("(cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx)" +
                           " + 4.0 * cxy * cxy)) / (2.0 * cxy)", 6)}
      |      + 0
      |    END AS b_deming,
      |  CASE WHEN bad THEN NULL ELSE
      |    ${Parity.fixSql("sign(cxy) * sqrt(cyy) / sqrt(cxx)", 6)} + 0
      |    END AS b_rma,
      |  CASE WHEN bad THEN NULL ELSE
      |    ${Parity.fixSql("cyy / cxy", 6)} + 0 END AS b_inv
      |FROM c ORDER BY pair""".stripMargin
}
