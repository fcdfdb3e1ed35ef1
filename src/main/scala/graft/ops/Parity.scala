package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Cross-engine determinism helpers (FIXTURES.md "Parity hazards").
  *
  * Every oracle-checked query follows: (1) decimal-cast double measures
  * before SUM/AVG so results are partition-order independent, (2)
  * `date_trunc` emitted event timestamps, (3) only sorted arrays in
  * outputs, (4) finish with a total-order ORDER BY.
  *
  * Decimal discipline (verified live against DuckDB 1.0.0, 2026-08-12):
  *  - DuckDB's decimal multiply derives precision p1+p2 (no +1) and its
  *    SUM widens to DECIMAL(38,s); casting inputs tightly — measures to
  *    (13,4), fractions to (6,4) — keeps every intermediate product exact
  *    decimal in BOTH engines (no silent double fallback at p>38).
  *  - DuckDB CAST(decimal AS narrower-decimal) TRUNCATES, but DuckDB
  *    ROUND(dec, 4) rounds half-up == Spark's cast-to-decimal (HALF_UP).
  *    So every Spark `dec4(expr)` output pairs with DuckDB
  *    `CAST(CAST(ROUND(expr, 4) AS DECIMAL(18,4)) AS DOUBLE)`.
  *  - FINAL projections are DOUBLE, not DECIMAL: both engines convert the
  *    identical scale-4 decimal to its nearest IEEE-754 double (exact,
  *    deterministic, same bits), and a double survives the driver's
  *    pandas-based hasher, where DECIMAL does not (Spark parquet decimal
  *    → pandas `object`/`Decimal` vs DuckDB `.df()` DECIMAL → `float64`
  *    hash-mismatch even when values are equal). The decimal math stays
  *    INTERNAL — that is what keeps SUM/AVG partition-order independent;
  *    only the last projection converts. Decimal(18,4) cannot round to
  *    IEEE -0.0 (BigDecimal has no signed zero), so no `+ 0.0` needed.
  *
  * Floor rounding has one vocabulary per engine: [[fix]] and [[quant]]
  * build Spark columns, and their DuckDB twins [[fixSql]] and
  * [[quantSql]] emit the same rule as oracle SQL text. No other file
  * spells either form (ParitySpec's source guard).
  */
object Parity {
  /** Measure columns (price/quantity/balance/value): exact, headroom for
    * 2-factor products within both engines' precision-38 budget. */
  def dm(c: Column): Column = c.cast(DecimalType(13, 4))

  /** Fraction columns (discount/tax, |x| < 10). */
  def df(c: Column): Column = c.cast(DecimalType(6, 4))

  /** Literal 1 as a tight decimal for (1 - disc)-style factors. */
  val one: Column = lit(1).cast(DecimalType(6, 4))

  /** Final-output normalization: HALF_UP to scale 4 via an exact decimal
    * cast, then to DOUBLE (see header — driver-hasher-safe, same bits on
    * both engines). DuckDB mirror: `out4`. */
  def dec4(c: Column): Column = c.cast(DecimalType(18, 4)).cast("double")

  /** Round a double output to `s` places — used where decimal math is
    * impossible (stddev/corr/cosine). Collision with a rounding boundary
    * is the residual risk; 4+ places on random data make it negligible. */
  def rnd(c: Column, s: Int = 4): Column = round(c, s)

  /** Fixed-point quantization: `floor(c * scale + 0.5)` as a BIGINT.
    * Half-ties go toward +∞ (−0.25 → −2 at scale 10, where HALF_UP
    * gives −3); NaN maps to 0 (Spark's double→long floor), null stays
    * null. DuckDB twin: [[quantSql]], at scales 1eN only; a scale such
    * as 100 keeps a hand-spelled `FLOOR(x * 100 + 0.5)` in the oracle,
    * since DuckDB types `x * 100` INTEGER/DECIMAL where `x * 1e2` is
    * DOUBLE. */
  def quant(c: Column, scale: Double): Column = floor(c * scale + 0.5)

  /** A double output rounded to `places` decimals by [[quant]]:
    * `quant(c, 10^places) / 10^places`. Same tie rule and NaN → 0;
    * never −0.0. DuckDB twin: [[fixSql]]. Unlike
    * [[rnd]] (HALF_UP, DuckDB `ROUND`), both engines run the same IEEE
    * multiply, add, floor and divide, so they agree to the bit. */
  def fix(c: Column, places: Int): Column = {
    val s = math.pow(10, places)
    quant(c, s) / s
  }

  /** DuckDB SQL fragment mirrors. */
  val DM = "DECIMAL(13,4)"
  val DF = "DECIMAL(6,4)"
  def out4(expr: String): String =
    s"CAST(CAST(ROUND($expr, 4) AS DECIMAL(18,4)) AS DOUBLE)"

  /** `FLOOR(e * 1eN + 0.5) / 1eN` with N = `places`: the DuckDB twin of
    * [[fix]] (NaN stays NaN here where Spark's floor gives 0). */
  def fixSql(e: String, places: Int): String =
    s"FLOOR($e * 1e$places + 0.5) / 1e$places"

  /** `CAST(FLOOR(e * 1eN + 0.5) AS BIGINT)` with N = `places`: the DuckDB
    * twin of [[quant]] at scale 1eN. */
  def quantSql(e: String, places: Int): String =
    s"CAST(FLOOR($e * 1e$places + 0.5) AS BIGINT)"
}
