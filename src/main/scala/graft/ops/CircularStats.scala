package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Directional (circular) statistics over the order-date calendar —
  * a family the linear moment/rank ladders cannot express: a date is
  * an ANGLE (day-of-year on the annual circle, day-of-week on the
  * weekly circle), and "mean day" / "seasonality strength" are the
  * resultant-vector quantities of Mardia & Jupp / Fisher, not
  * arithmetic means (the mean of Dec 31 and Jan 2 is Jan 1, not
  * July 2). [PK] Mardia & Jupp, Directional Statistics (2000);
  * Fisher, Statistical Analysis of Circular Data (1993).
  *
  * Parity discipline: cos/sin are libm terms (not correctly-rounded),
  * so the repo's nano-quantization convention applies — but here the
  * angle support is a CENSUS (≤366 day-of-year values, 7 weekdays),
  * so each cos/sin is quantized to the 1e-9 grid ONCE PER DISTINCT
  * ANGLE and multiplied by exact counts: the cross-engine boundary-
  * flip exposure is ≤366 terms per group, not n (the q355 census
  * idea applied to transcendentals). The resultant components C, S
  * are then EXACT integers cross-engine, and every downstream chain
  * (R̄, z, κ̂, atan2 mean direction) consumes identical doubles.
  *
  * Scale: a (group, angle) census is map-side combinable and
  * scale-CONSTANT (≤ 366·|groups| rows); everything after is
  * census-row algebra. One fact pass total per query.
  */
object CircularStats {

  /** L342 Rayleigh uniformity test on the annual circle ([PK] Mardia &
    * Jupp §6.3; Rayleigh 1880): per order-YEAR, map each order date to
    * the angle θ = 2π(doy−1)/365, form the mean resultant length
    * R̄ = |Σe^{iθ}|/n, the mean direction (as a calendar day), and the
    * Rayleigh statistic z = nR̄² — the uniform-vs-unimodal seasonality
    * readout (z large ⇒ order dates cluster around a season). The
    * circular complement of the q241/q243 blocked calendar tests:
    * those compare GROUPS across months; this asks whether the
    * calendar itself is uniform.
    *
    * Parity: (year, doy) census → per-distinct-doy cos/sin quantized
    * nano-int64 (≤366 libm terms per year), C/S exact DECIMAL sums of
    * count·cq; R̄/z/mean-day consume the identical exact C,S in one
    * double chain (sqrt is IEEE-exact; atan2 is ONE output libm term,
    * 4dp-floored). doy 366 maps just past 2π — the documented leap
    * convention (365-denominator, both engines).
    *
    * Scale: one map-side-combinable (year, doy) census — exchanged
    * volume ≤ 7·366 rows; ≤7-row algebra after. */
  def q407Rayleigh(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(year(col("o_orderdate")).cast("long").as("yr"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"))
    val cen = o.groupBy("yr", "doy").agg(count(lit(1)).as("cnt"))
    val ang = lit(2.0) * lit(math.Pi) *
      (col("doy") - 1L).cast("double") / lit(365.0)
    // nano grid per distinct angle (the libm-sum convention, inlined
    // so the libm lint sees the quantizer at the binding site)
    val q = cen.select(col("yr"), col("cnt"),
      Parity.quant(cos(ang), 1e9).as("cq"),
      Parity.quant(sin(ang), 1e9).as("sq"))
    val g = q.groupBy("yr").agg(
      sum(col("cnt")).as("n"),
      sum(col("cnt").cast(dec) * col("cq").cast(dec)).as("cN"),
      sum(col("cnt").cast(dec) * col("sq").cast(dec)).as("sN"))
    val cD = col("cN").cast("double")
    val sD = col("sN").cast("double")
    val nD = col("n").cast("double")
    val rbar = sqrt(cD * cD + sD * sD) / (nD * lit(1e9))
    val z = nD * rbar * rbar
    // mean direction → calendar day in [1, 366): atan2 ∈ (−π, π]
    val aDay = atan2(sD, cD) / (lit(2.0) * lit(math.Pi)) * lit(365.0)
    val mDay = when(aDay < 0.0, aDay + 365.0).otherwise(aDay) + 1.0
    g.select(col("yr").as("order_year"), col("n").as("n_orders"),
        Parity.fix(rbar, 6).as("rbar"),
        Parity.fix(z, 4).as("rayleigh_z"),
        Parity.fix(mDay, 4).as("mean_day"))
      .orderBy("order_year")
  }

  val q407RayleighSql: String =
    s"""WITH o AS (
      |  SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS DATE))
      |      AS BIGINT) AS yr,
      |    CAST(dayofyear(CAST(o_orderdate AS DATE)) AS BIGINT) AS doy
      |  FROM orders),
      |cen AS (SELECT yr, doy, COUNT(*) AS cnt FROM o GROUP BY yr, doy),
      |q AS (
      |  SELECT yr, cnt,
      |    ${Parity.quantSql("COS(2.0 * PI() * CAST(doy - 1 AS DOUBLE) / 365.0)", 9)}
      |      AS cq,
      |    ${Parity.quantSql("SIN(2.0 * PI() * CAST(doy - 1 AS DOUBLE) / 365.0)", 9)}
      |      AS sq
      |  FROM cen),
      |g AS (
      |  SELECT yr, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * cq) AS HUGEINT) AS cN,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * sq) AS HUGEINT) AS sN
      |  FROM q GROUP BY yr),
      |t AS (
      |  SELECT yr, n,
      |    SQRT(CAST(cN AS DOUBLE) * CAST(cN AS DOUBLE)
      |      + CAST(sN AS DOUBLE) * CAST(sN AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * 1e9) AS rbar,
      |    ATAN2(CAST(sN AS DOUBLE), CAST(cN AS DOUBLE))
      |      / (2.0 * PI()) * 365.0 AS aday
      |  FROM g)
      |SELECT yr AS order_year, n AS n_orders,
      |  ${Parity.fixSql("rbar", 6)} + 0 AS rbar,
      |  ${Parity.fixSql("CAST(n AS DOUBLE) * rbar * rbar", 4)} + 0
      |    AS rayleigh_z,
      |  ${Parity.fixSql("(CASE WHEN aday < 0.0 THEN aday + 365.0 ELSE aday END" +
                         " + 1.0)", 4)}
      |    + 0 AS mean_day
      |FROM t ORDER BY order_year""".stripMargin

  /** L343 von Mises concentration κ̂ on the weekly circle ([PK] Fisher
    * 1993 §4.5.5, eqs. 4.40–4.42; Mardia & Jupp §5.3): per order
    * priority, map each order to its day-of-week angle θ = 2π·dow/7
    * (dow 0–6 from the engine-neutral Sunday-epoch datediff mod 7 —
    * 1995-01-01 was a Sunday), estimate R̄, the circular variance
    * V = 1 − R̄, and the ML concentration parameter κ̂ of a fitted von
    * Mises distribution via Fisher's three-branch A⁻¹ approximation:
    * κ̂ = 2R̄ + R̄³ + 5R̄⁵/6 (R̄ < 0.53), −0.4 + 1.39R̄ + 0.43/(1−R̄)
    * (0.53 ≤ R̄ < 0.85), 1/(R̄³ − 4R̄² + 3R̄) (R̄ ≥ 0.85). q407 TESTS
    * uniformity; this ESTIMATES the departure — the parameter a weekly
    * load-shaping model would consume.
    *
    * Parity: the q407 census discipline with only 7 distinct angles
    * per group; R̄ is the identical double cross-engine, so the branch
    * choice is identical; κ̂ is one guarded double chain (divisors
    * clamped, R̄→1 degenerate nulled).
    *
    * Scale: one (priority, dow) census — 35 rows; ≤5-row algebra. */
  def q408VonMisesKappa(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pr"),
        pmod(datediff(col("o_orderdate"), lit("1995-01-01")), lit(7))
          .cast("long").as("dow"))
    val cen = o.groupBy("pr", "dow").agg(count(lit(1)).as("cnt"))
    val ang = lit(2.0) * lit(math.Pi) *
      col("dow").cast("double") / lit(7.0)
    val q = cen.select(col("pr"), col("cnt"),
      Parity.quant(cos(ang), 1e9).as("cq"),
      Parity.quant(sin(ang), 1e9).as("sq"))
    val g = q.groupBy("pr").agg(
      sum(col("cnt")).as("n"),
      sum(col("cnt").cast(dec) * col("cq").cast(dec)).as("cN"),
      sum(col("cnt").cast(dec) * col("sq").cast(dec)).as("sN"))
    val cD = col("cN").cast("double")
    val sD = col("sN").cast("double")
    val nD = col("n").cast("double")
    val r = sqrt(cD * cD + sD * sD) / (nD * lit(1e9))
    // Fisher's A⁻¹ branches; divisors clamped (q403 convention) so a
    // degenerate all-one-weekday group cannot throw before the null
    // guard, which masks R̄ ≥ 1 − 1e-9 (κ̂ → ∞ there)
    val kappa =
      when(r < 0.53, lit(2.0) * r + r * r * r +
        lit(5.0) * r * r * r * r * r / lit(6.0))
      .when(r < 0.85, lit(-0.4) + lit(1.39) * r +
        lit(0.43) / greatest(lit(1.0) - r, lit(1e-300)))
      .otherwise(lit(1.0) /
        greatest(r * r * r - lit(4.0) * r * r + lit(3.0) * r,
          lit(1e-300)))
    g.select(col("pr").as("o_orderpriority"), col("n").as("n_orders"),
        Parity.fix(r, 6).as("rbar"),
        Parity.fix(lit(1.0) - r, 6).as("circ_var"),
        when(r >= 1.0 - 1e-9, lit(null).cast("double"))
          .otherwise(Parity.fix(kappa, 4)).as("kappa"))
      .orderBy("o_orderpriority")
  }

  val q408VonMisesKappaSql: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority AS pr,
      |    ((date_diff('day', DATE '1995-01-01',
      |        CAST(o_orderdate AS DATE)) % 7) + 7) % 7 AS dow
      |  FROM orders),
      |cen AS (SELECT pr, dow, COUNT(*) AS cnt FROM o GROUP BY pr, dow),
      |q AS (
      |  SELECT pr, cnt,
      |    ${Parity.quantSql("COS(2.0 * PI() * CAST(dow AS DOUBLE) / 7.0)", 9)} AS cq,
      |    ${Parity.quantSql("SIN(2.0 * PI() * CAST(dow AS DOUBLE) / 7.0)", 9)} AS sq
      |  FROM cen),
      |g AS (
      |  SELECT pr, CAST(SUM(cnt) AS BIGINT) AS n,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * cq) AS HUGEINT) AS cN,
      |    CAST(SUM(CAST(cnt AS HUGEINT) * sq) AS HUGEINT) AS sN
      |  FROM q GROUP BY pr),
      |t AS (
      |  SELECT pr, n,
      |    SQRT(CAST(cN AS DOUBLE) * CAST(cN AS DOUBLE)
      |      + CAST(sN AS DOUBLE) * CAST(sN AS DOUBLE))
      |      / (CAST(n AS DOUBLE) * 1e9) AS r
      |  FROM g)
      |SELECT pr AS o_orderpriority, n AS n_orders,
      |  ${Parity.fixSql("r", 6)} + 0 AS rbar,
      |  ${Parity.fixSql("(1.0 - r)", 6)} + 0 AS circ_var,
      |  CASE WHEN r >= 1.0 - 1e-9 THEN NULL
      |    ELSE ${Parity.fixSql("(CASE" +
                                " WHEN r < 0.53 THEN 2.0 * r + r * r * r" +
                                " + 5.0 * r * r * r * r * r / 6.0" +
                                " WHEN r < 0.85 THEN -0.4 + 1.39 * r" +
                                " + 0.43 / GREATEST(1.0 - r, 1e-300)" +
                                " ELSE 1.0 / GREATEST(r * r * r - 4.0 * r * r + 3.0 * r," +
                                " 1e-300) END)", 4)}
      |        + 0 END AS kappa
      |FROM t ORDER BY pr""".stripMargin
}
