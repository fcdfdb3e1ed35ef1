package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial autocorrelation statistics (round 13, batch 4): the global
  * and local cluster screens a geo-keyed corpus needs on top of the
  * grid-density HOTSPOT counts of q149 — "are the counts spatially
  * clustered AT ALL, and where, with what significance" rather than
  * "which cells are locally dense".
  *
  * - q294 Moran's I — the global autocorrelation coefficient
  *   (cross-product form) with its normality z.
  * - q295 Geary's C — the difference-based sibling (sensitive to
  *   LOCAL deviation where Moran sees global covariance).
  * - q296 Getis–Ord Gi* — the per-cell hot/cold-spot z-surface.
  *
  * All three ride ONE backbone: the q149 10° grid census (cells ∝
  * area — ≤ 612 cells at ANY corpus scale) augmented with queen
  * (8-neighbour) occupied-adjacency sums via an exploded-offset
  * equi-join. Every cross-pair quantity is folded per-CELL first
  * (deg_i, Σ_j x_j, Σ_j x_j²), so no pair table is ever wider than
  * the cell census × 8 and the statistics reduce to ONE
  * map-side-combinable aggregate over ≤ 612 rows — the same
  * cells-not-points scale discipline as q149.
  *
  * Parity: every sum is exact int64/DECIMAL (counts, cross-products,
  * squared differences); each statistic is ONE deterministic double
  * chain from exact integers (IEEE divide/sqrt), floor-quantized for
  * display (the r12 round-vs-floor lesson — no engine round()).
  */
object SpatialStats {

  /** The q149 synthetic coordinates of an integer key: latitude from
    * the multiplicative hash key·2654435761 mod 1700 and longitude from
    * key·1103515245 + 12345 mod 3600, each /10 − offset (q131, q149 and
    * the cell-grid tests here). [[gridLatSql]] and [[gridLonSql]] are
    * their oracle twins; each pair changes together. */
  private[ops] def gridLat(key: Column): Column =
    pmod(key * 2654435761L, lit(1700L)).cast("double") / 10.0 - 85.0
  private[ops] def gridLon(key: Column): Column =
    pmod(key * 1103515245L + 12345L, lit(3600L)).cast("double") / 10.0 - 180.0

  /** The oracle twins of [[gridLat]] and [[gridLon]] over the SQL
    * expression `key`; each pair changes together. */
  private[ops] def gridLatSql(key: String): String =
    s"CAST((($key * 2654435761) % 1700 + 1700) % 1700 AS DOUBLE) / 10.0 - 85.0"
  private[ops] def gridLonSql(key: String): String =
    s"CAST((($key * 1103515245 + 12345) % 3600 + 3600) % 3600 AS DOUBLE)" +
      " / 10.0 - 180.0"

  /** Each customer's 10° cell (`cx`, `cy`) of its [[gridLon]]/[[gridLat]]
    * point (q149 and the cell-grid tests here). [[customerGridSql]] is
    * its oracle twin; the two change together. */
  private[ops] def customerGrid(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .select(floor(gridLon(col("c_custkey")) / 10.0).cast("int").as("cx"),
        floor(gridLat(col("c_custkey")) / 10.0).cast("int").as("cy"))

  /** The oracle twin of [[customerGrid]]; the two change together. */
  private[ops] val customerGridSql: String =
    s"""SELECT
      |    CAST(FLOOR((${gridLonSql("c_custkey")}) / 10.0) AS INTEGER) AS cx,
      |    CAST(FLOOR((${gridLatSql("c_custkey")}) / 10.0) AS INTEGER) AS cy
      |  FROM customer""".stripMargin

  /** md5-scattered POINT coordinates (q328/q333/q335 family): lat from
    * hex digits 1–6 of md5(key) mod 1700, lon from digits 7–12 mod
    * 3600, each /10 − offset. Unlike the q149 multiplicative hash
    * (which is a coarse LATTICE at point level — measured, see q328's
    * Scaladoc), md5 scatters properly, and both engines reproduce the
    * fold bit-for-bit (the q326 hex-fold family). `key` is a STRING
    * column — salt before hashing when two tables must not collide
    * (q333's `hub:` prefix). */
  private def mdLat(key: Column): Column =
    pmod(conv(substring(md5(key), 1, 6), 16, 10).cast("long"),
      lit(1700L)).cast("double") / 10.0 - 85.0
  private def mdLon(key: Column): Column =
    pmod(conv(substring(md5(key), 7, 6), 16, 10).cast("long"),
      lit(3600L)).cast("double") / 10.0 - 180.0

  /** DuckDB mirrors of [[mdLat]]/[[mdLon]] — emitted without margin
    * bars so a host string's later `.stripMargin` leaves them alone. */
  private def mdFoldSql(keyExpr: String, from: Int, modulus: Int): String =
    s"""(list_sum(list_transform(range(6), i ->
       |      (strpos('0123456789abcdef',
       |         substr(md5($keyExpr),
       |           CAST(i + $from AS INT), 1)) - 1)
       |      * (CAST(1 AS BIGINT) << CAST(4 * (5 - i) AS INT)))) % $modulus)""".stripMargin
  private def mdLatSql(keyExpr: String): String =
    s"CAST(${mdFoldSql(keyExpr, 1, 1700)}\n      AS DOUBLE) / 10.0 - 85.0"
  private def mdLonSql(keyExpr: String): String =
    s"CAST(${mdFoldSql(keyExpr, 7, 3600)}\n      AS DOUBLE) / 10.0 - 180.0"

  /** The q149 synthetic geo-grid: customers hashed to (lat, lon) with
    * the q149 multiplicative hashes, bucketed to 10° cells, counted.
    * Spatially RANDOM by construction (the hash has no spatial
    * structure) — so the global tests should sit in the null band,
    * which NonDegeneracySpec pins; the structured-field behaviour
    * (I→1, C→0 on a ramp) is pinned by StatBruteSpec through the same
    * [[moransI]]/[[gearysC]] kernels on an in-test grid. */
  private def customerCells(s: SparkSession, dir: String): DataFrame =
    customerGrid(s, dir).groupBy("cx", "cy").agg(count(lit(1)).as("x"))

  /** Queen-adjacency augmentation: for each occupied cell, the count
    * of occupied 8-neighbours (deg), their value sum (ns) and value
    * square-sum (ns2) — the per-cell folds from which every directed
    * pair sum in Moran/Geary/Gi* is recovered without materializing
    * pairs: Σ_pairs x_i·x_j = Σ_i x_i·ns_i, Σ_pairs (x_i−x_j)² =
    * Σ_i (deg_i·x_i² − 2·x_i·ns_i + ns2_i), W = Σ deg_i. */
  private[ops] def augmented(cells: DataFrame): DataFrame = {
    val offs = typedlit(for {
      dx <- -1 to 1; dy <- -1 to 1 if dx != 0 || dy != 0
    } yield (dx, dy))
    val nbr = cells.withColumn("o", explode(offs))
      .select((col("cx") + col("o._1")).as("cx"),
        (col("cy") + col("o._2")).as("cy"), col("x").as("nx"))
      .groupBy("cx", "cy")
      .agg(count(lit(1)).as("deg"), sum(col("nx")).as("ns"),
        sum(col("nx").cast(dec) * col("nx")).as("ns2"))
    cells.join(nbr, Seq("cx", "cy"), "left")
      .select(col("cx"), col("cy"), col("x"),
        coalesce(col("deg"), lit(0L)).as("deg"),
        coalesce(col("ns"), lit(0L)).as("ns"),
        coalesce(col("ns2"), lit(0L).cast(dec)).as("ns2"))
  }

  /** Global Moran's I over an integer-valued cell grid (cx, cy, x),
    * binary queen weights, with E[I] = −1/(N−1) and the
    * normality-assumption z ([PK] Moran 1950; Cliff & Ord 1981).
    * Exact-integer numerator/denominator: with S = Σx, N cells,
    * I = (N²·Σwxx' − N·S·(Σdeg·x + Σns) + W·S²) / (W·(N·Σx² − S²)).
    * For binary symmetric weights S1 = 2W and S2 = 4·Σdeg². */
  def moransI(cells: DataFrame): DataFrame = {
    val a = augmented(cells).agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x").cast(dec) * col("x")).as("ss"),
      sum(col("deg")).as("w"),
      sum(col("x").cast(dec) * col("ns")).as("p"),
      sum(col("deg").cast(dec) * col("x")).as("degn"),
      sum(col("ns").cast(dec)).as("sns"),
      sum(col("deg").cast(dec) * col("deg")).as("degsq"))
    val nDec = col("n").cast(dec)
    val num = nDec * col("n") * col("p") -
      nDec * col("s") * (col("degn") + col("sns")) +
      col("w").cast(dec) * col("s") * col("s")
    val varPart = nDec * col("ss") - col("s").cast(dec) * col("s")
    val i = num.cast("double") /
      (col("w").cast("double") * varPart.cast("double"))
    val nD = col("n").cast("double")
    val wD = col("w").cast("double")
    val e = lit(-1.0) / (nD - 1.0)
    val s1 = lit(2.0) * wD
    val s2 = lit(4.0) * col("degsq").cast("double")
    val varI = (nD * nD * s1 - nD * s2 + lit(3.0) * wD * wD) /
      (wD * wD * (nD * nD - 1.0)) -
      lit(1.0) / ((nD - 1.0) * (nD - 1.0))
    val bad = col("n") < 3L || col("w") === 0L ||
      varPart <= lit(0L).cast(dec)
    a.select(col("n").cast("long").as("n_cells"),
      col("w").cast("long").as("w_pairs"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(i,
        6)).as("morans_i"),
      when(col("n") < 2L, lit(null).cast("double")).otherwise(Parity.fix(e, 6))
        .as("e_i"),
      when(bad || varI <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix((i - e) / sqrt(varI), 4)).as("z"))
  }

  /** Global Geary's C over the same grid/weights, E[C] = 1,
    * normality z = (C−1)/sd with
    * Var(C) = ((2S1+S2)(N−1) − 4W²) / (2(N+1)W²)
    * ([PK] Geary 1954; Cliff & Ord 1981). Exact integers:
    * C = N·(N−1)·Σw(x−x')² / (2W·(N·Σx² − S²)). */
  def gearysC(cells: DataFrame): DataFrame = {
    val a = augmented(cells).agg(
      count(lit(1)).as("n"), sum(col("x")).as("s"),
      sum(col("x").cast(dec) * col("x")).as("ss"),
      sum(col("deg")).as("w"),
      sum(col("deg").cast(dec) * col("x") * col("x") -
        col("x").cast(dec) * col("ns") * 2L + col("ns2")).as("d2"),
      sum(col("deg").cast(dec) * col("deg")).as("degsq"))
    val nDec = col("n").cast(dec)
    val varPart = nDec * col("ss") - col("s").cast(dec) * col("s")
    val num = nDec * (col("n") - 1L) * col("d2")
    val cStat = num.cast("double") /
      (lit(2.0) * col("w").cast("double") * varPart.cast("double"))
    val nD = col("n").cast("double")
    val wD = col("w").cast("double")
    val s1 = lit(2.0) * wD
    val s2 = lit(4.0) * col("degsq").cast("double")
    val varC = ((lit(2.0) * s1 + s2) * (nD - 1.0) -
      lit(4.0) * wD * wD) / (lit(2.0) * (nD + 1.0) * wD * wD)
    val bad = col("n") < 3L || col("w") === 0L ||
      varPart <= lit(0L).cast(dec)
    a.select(col("n").cast("long").as("n_cells"),
      col("w").cast("long").as("w_pairs"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(cStat, 6))
        .as("gearys_c"),
      when(bad || varC <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix((cStat - 1.0) / sqrt(varC), 4)).as("z"))
  }

  /** Per-cell Getis–Ord Gi* (self-inclusive 9-cell window,
    * [PK] Getis & Ord 1992; Ord & Getis 1995): the z-surface of local
    * hot/cold spots. For binary weights W_i = deg_i+1,
    * Gi* = (Σ_{j∈N9(i)} x_j − x̄·W_i) /
    *       (s·√((N·W_i − W_i²)/(N−1))), population s over ALL cells.
    * The 1-row global-moment broadcast onto the cell table is the
    * q242 in-plan form (PlanShapeSpec allowlist). */
  def getisGiStar(cells: DataFrame): DataFrame = {
    val aug = augmented(cells)
    val glob = cells.agg(count(lit(1)).as("gn"), sum(col("x")).as("gs"),
      sum(col("x").cast(dec) * col("x")).as("gss"))
    val nD = col("gn").cast("double")
    val mean = col("gs").cast("double") / nD
    val variance = col("gss").cast("double") / nD - mean * mean
    val w9 = (col("deg") + 1L).cast("double")
    val ns9 = (col("ns") + col("x")).cast("double")
    val denom = sqrt(variance) *
      sqrt((nD * w9 - w9 * w9) / (nD - 1.0))
    val bad = col("gn") < 2L || variance <= 0.0 || nD === w9
    aug.crossJoin(broadcast(glob))
      .select(col("cx"), col("cy"), col("x").as("n"),
        (col("ns") + col("x")).as("nbhd"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.fix((ns9 - mean * w9) / denom, 4)).as("gi_z"))
      .orderBy("cx", "cy")
  }

  /** Join-count statistics over a BINARY field ([PK] Cliff & Ord 1981
    * ch. 1; Moran 1948): classify each occupied cell black (count
    * strictly above the grid mean) or white, then count BB / BW / WW
    * queen-adjacent pairs and z-score BB and BW against free sampling
    * with the plug-in p̂ = n₁/N. The NOMINAL-field sibling of Moran/
    * Geary (which need interval values): "do above-average cells
    * touch each other more than chance" — the first screen when the
    * field is a flag, not a count.
    *
    * Derivation used for the variances (documented because the free-
    * sampling forms are stated many ways): with directed weight sums
    * S1 = 2W, S2 = 4Σdeg² and q = 1−p,
    *   4·Var(BB) = S1(p²−p⁴) + (S2−2S1)(p³−p⁴)
    *   4·Var(BW) = S1(2pq−4p²q²) + (S2−2S1)(pq−4p²q²)
    * — identical-pair terms use E[b²]=p (E[u²]=E[u]=2pq for the BW
    * indicator), one-shared-node terms use E[b_ib_jb_k]=p³ (P(b_i≠b_j
    * ∧ b_i≠b_k)=pq), disjoint pairs are independent. The brute spec
    * re-counts every pair and re-derives both z's sequentially.
    *
    * Scale: the binary field is ONE exact-integer comparison per cell
    * (x·N > S — no double mean), the folds are the same 8-offset
    * equi-join as Moran/Geary, and the statistics are ONE agg over
    * ≤612 cells. The 1-row (N,S) broadcast is the q242 in-plan form. */
  def joinCounts(cells: DataFrame): DataFrame = {
    val glob = cells.agg(count(lit(1)).as("gn"), sum(col("x")).as("gs"))
    // lazy checkpoint: the binary frame feeds BOTH branches of the
    // adjacency fold (cells + neighbour explode) — without it the
    // 1-row threshold broadcast re-plans per branch (BNLJ ×2)
    val bin = cells.crossJoin(broadcast(glob))
      .select(col("cx"), col("cy"),
        when(col("x").cast(dec) * col("gn") > col("gs").cast(dec),
          1L).otherwise(0L).as("x"))
      .localCheckpoint(eager = false)
    val a = augmented(bin).agg(
      count(lit(1)).as("n"), sum(col("x")).as("n1"),
      sum(col("deg")).as("w"),
      sum(col("x").cast(dec) * col("ns")).as("bns"),
      sum(col("x").cast(dec) * col("deg")).as("bdeg"),
      sum(col("ns").cast(dec)).as("sns"),
      sum(col("deg").cast(dec) * col("deg")).as("degsq"))
    // exact-integer pair counts from the folds (each unordered pair
    // appears twice in the directed sums)
    val bb2 = col("bns") // Σ b_i·ns_i = 2·BB
    val bw2 = col("bdeg") + col("sns") - col("bns") * 2L // = 2·BW
    val nD = col("n").cast("double")
    val wD = col("w").cast("double")
    val p = col("n1").cast("double") / nD
    val q = lit(1.0) - p
    val s1 = lit(2.0) * wD
    val s2 = lit(4.0) * col("degsq").cast("double")
    val eBb = wD / 2.0 * p * p
    val eBw = wD * p * q
    val varBb = (s1 * (p * p - p * p * p * p) +
      (s2 - lit(2.0) * s1) * (p * p * p - p * p * p * p)) / 4.0
    val varBw = (s1 * (lit(2.0) * p * q - lit(4.0) * p * p * q * q) +
      (s2 - lit(2.0) * s1) * (p * q - lit(4.0) * p * p * q * q)) / 4.0
    val bb = bb2.cast("double") / 2.0
    val bw = bw2.cast("double") / 2.0
    val bad = col("n") < 3L || col("w") === 0L || col("n1") === 0L ||
      col("n1") === col("n")
    def outZ(obs: Column, e: Column, v: Column, nm: String) =
      when(bad || v <= 0.0, lit(null).cast("double"))
        .otherwise(Parity.fix((obs - e) / sqrt(v), 4)).as(nm)
    a.select(col("n").cast("long").as("n_cells"),
      col("n1").cast("long").as("n_black"),
      (col("w") / 2L).cast("long").as("j_links"),
      (bb2 / 2L).cast("long").as("bb"),
      (bw2 / 2L).cast("long").as("bw"),
      ((col("w") - bb2 - bw2) / 2L).cast("long").as("ww"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(eBb,
        4)).as("e_bb"),
      outZ(bb, eBb, varBb, "z_bb"),
      when(bad, lit(null).cast("double")).otherwise(Parity.fix(eBw,
        4)).as("e_bw"),
      outZ(bw, eBw, varBw, "z_bw"))
  }

  def q294MoransI(s: SparkSession, dir: String): DataFrame =
    moransI(customerCells(s, dir))

  def q295GearysC(s: SparkSession, dir: String): DataFrame =
    gearysC(customerCells(s, dir))

  def q296GetisGi(s: SparkSession, dir: String): DataFrame =
    getisGiStar(customerCells(s, dir))

  def q305JoinCounts(s: SparkSession, dir: String): DataFrame =
    joinCounts(customerCells(s, dir))

  /** Shared mirror CTEs: the q149 grid hash, queen offsets, and the
    * per-cell augmentation (deg/ns/ns2) — HUGEINT exact. */
  private val cellCtes: String =
    s"""WITH pts AS ($customerGridSql),
      |cells AS (SELECT cx, cy, COUNT(*) AS x FROM pts GROUP BY cx, cy),
      |offs AS (
      |  SELECT dx.dx, dy.dy
      |  FROM (SELECT unnest([-1, 0, 1]) AS dx) dx,
      |       (SELECT unnest([-1, 0, 1]) AS dy) dy
      |  WHERE NOT (dx.dx = 0 AND dy.dy = 0)),
      |nbrv AS (
      |  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.x AS nx
      |  FROM cells c CROSS JOIN offs o),
      |aug AS (
      |  SELECT c.cx, c.cy, c.x,
      |    CAST(COUNT(v.nx) AS BIGINT) AS deg,
      |    CAST(COALESCE(SUM(v.nx), 0) AS BIGINT) AS ns,
      |    CAST(COALESCE(SUM(CAST(v.nx AS HUGEINT) * v.nx), 0) AS HUGEINT) AS ns2
      |  FROM cells c LEFT JOIN nbrv v ON c.cx = v.cx AND c.cy = v.cy
      |  GROUP BY c.cx, c.cy, c.x)""".stripMargin

  val q294MoransISql: String =
    cellCtes +
      s""",
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss,
        |    CAST(SUM(deg) AS BIGINT) AS w,
        |    CAST(SUM(CAST(x AS HUGEINT) * ns) AS HUGEINT) AS p,
        |    CAST(SUM(CAST(deg AS HUGEINT) * x) AS HUGEINT) AS degn,
        |    CAST(SUM(CAST(ns AS HUGEINT)) AS HUGEINT) AS sns,
        |    CAST(SUM(CAST(deg AS HUGEINT) * deg) AS HUGEINT) AS degsq
        |  FROM aug),
        |c0 AS (
        |  SELECT n, w,
        |    CAST(CAST(n AS HUGEINT) * n * p
        |      - CAST(n AS HUGEINT) * s * (degn + sns)
        |      + CAST(w AS HUGEINT) * s * s AS DOUBLE)
        |      / (CAST(w AS DOUBLE)
        |         * CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)) AS i,
        |    CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS HUGEINT) AS vp,
        |    -1.0 / (n - 1.0) AS e,
        |    (CAST(n AS DOUBLE) * n * (2.0 * w)
        |      - CAST(n AS DOUBLE) * (4.0 * degsq) + 3.0 * CAST(w AS DOUBLE) * w)
        |      / (CAST(w AS DOUBLE) * w * (CAST(n AS DOUBLE) * n - 1.0))
        |      - 1.0 / ((n - 1.0) * (n - 1.0)) AS vi
        |  FROM a)
        |SELECT n AS n_cells, w AS w_pairs,
        |  CASE WHEN n < 3 OR w = 0 OR vp <= 0 THEN NULL
        |    ELSE ${Parity.fixSql("i", 6)} END AS morans_i,
        |  CASE WHEN n < 2 THEN NULL
        |    ELSE ${Parity.fixSql("e", 6)} END AS e_i,
        |  CASE WHEN n < 3 OR w = 0 OR vp <= 0 OR vi <= 0 THEN NULL
        |    ELSE ${Parity.fixSql("(i - e) / SQRT(vi)", 4)} END AS z
        |FROM c0""".stripMargin

  val q295GearysCSql: String =
    cellCtes +
      s""",
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss,
        |    CAST(SUM(deg) AS BIGINT) AS w,
        |    CAST(SUM(CAST(deg AS HUGEINT) * x * x
        |      - CAST(x AS HUGEINT) * ns * 2 + ns2) AS HUGEINT) AS d2,
        |    CAST(SUM(CAST(deg AS HUGEINT) * deg) AS HUGEINT) AS degsq
        |  FROM aug),
        |c0 AS (
        |  SELECT n, w,
        |    CAST(CAST(n AS HUGEINT) * (n - 1) * d2 AS DOUBLE)
        |      / (2.0 * CAST(w AS DOUBLE)
        |         * CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS DOUBLE)) AS c,
        |    CAST(CAST(n AS HUGEINT) * ss - CAST(s AS HUGEINT) * s AS HUGEINT) AS vp,
        |    ((2.0 * (2.0 * w) + 4.0 * degsq) * (n - 1.0)
        |      - 4.0 * CAST(w AS DOUBLE) * w)
        |      / (2.0 * (n + 1.0) * CAST(w AS DOUBLE) * w) AS vc
        |  FROM a)
        |SELECT n AS n_cells, w AS w_pairs,
        |  CASE WHEN n < 3 OR w = 0 OR vp <= 0 THEN NULL
        |    ELSE ${Parity.fixSql("c", 6)} END AS gearys_c,
        |  CASE WHEN n < 3 OR w = 0 OR vp <= 0 OR vc <= 0 THEN NULL
        |    ELSE ${Parity.fixSql("(c - 1.0) / SQRT(vc)", 4)} END AS z
        |FROM c0""".stripMargin

  val q296GetisGiSql: String =
    cellCtes +
      s""",
        |g AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS gn,
        |    CAST(SUM(x) AS BIGINT) AS gs,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS gss
        |  FROM cells),
        |m AS (
        |  SELECT gn, CAST(gs AS DOUBLE) / gn AS mean,
        |    CAST(gss AS DOUBLE) / gn
        |      - (CAST(gs AS DOUBLE) / gn) * (CAST(gs AS DOUBLE) / gn) AS var
        |  FROM g)
        |SELECT a.cx, a.cy, a.x AS n, a.ns + a.x AS nbhd,
        |  CASE WHEN m.gn < 2 OR m.var <= 0 OR m.gn = a.deg + 1 THEN NULL
        |    ELSE
        |      ${Parity.fixSql("((a.ns + a.x) - m.mean * (a.deg + 1))" +
                               " / (SQRT(m.var)" +
                               " * SQRT((m.gn * (a.deg + 1.0) - (a.deg + 1.0) * (a.deg +" +
                               " 1.0))" +
                               " / (m.gn - 1.0)))", 4)}
        |                END AS gi_z
        |FROM aug a CROSS JOIN m
        |ORDER BY a.cx, a.cy""".stripMargin

  val q305JoinCountsSql: String =
    cellCtes +
      s""",
        |gtot AS (SELECT CAST(COUNT(*) AS BIGINT) AS gn,
        |    CAST(SUM(x) AS BIGINT) AS gs
        |  FROM cells),
        |bin AS (
        |  SELECT cx, cy,
        |    CASE WHEN CAST(x AS HUGEINT) * gn > gs THEN 1 ELSE 0 END AS b
        |  FROM cells CROSS JOIN gtot),
        |bnbr AS (
        |  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy, c.b AS nb
        |  FROM bin c CROSS JOIN offs o),
        |baug AS (
        |  SELECT c.cx, c.cy, c.b,
        |    CAST(COUNT(v.nb) AS BIGINT) AS deg,
        |    CAST(COALESCE(SUM(v.nb), 0) AS BIGINT) AS ns
        |  FROM bin c LEFT JOIN bnbr v ON c.cx = v.cx AND c.cy = v.cy
        |  GROUP BY c.cx, c.cy, c.b),
        |a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(b) AS BIGINT) AS n1,
        |    CAST(SUM(deg) AS BIGINT) AS w,
        |    CAST(SUM(CAST(b AS HUGEINT) * ns) AS HUGEINT) AS bns,
        |    CAST(SUM(CAST(b AS HUGEINT) * deg) AS HUGEINT) AS bdeg,
        |    CAST(SUM(CAST(ns AS HUGEINT)) AS HUGEINT) AS sns,
        |    CAST(SUM(CAST(deg AS HUGEINT) * deg) AS HUGEINT) AS degsq
        |  FROM baug),
        |c0 AS (
        |  SELECT n, n1, w, bns, bdeg + sns - bns * 2 AS bw2, degsq,
        |    CAST(n1 AS DOUBLE) / n AS p,
        |    1.0 - CAST(n1 AS DOUBLE) / n AS q,
        |    2.0 * CAST(w AS DOUBLE) AS s1,
        |    4.0 * CAST(degsq AS DOUBLE) AS s2,
        |    (n < 3 OR w = 0 OR n1 = 0 OR n1 = n) AS bad
        |  FROM a),
        |c1 AS (
        |  SELECT *,
        |    CAST(w AS DOUBLE) / 2.0 * p * p AS e_bb0,
        |    CAST(w AS DOUBLE) * p * q AS e_bw0,
        |    (s1 * (p * p - p * p * p * p)
        |      + (s2 - 2.0 * s1) * (p * p * p - p * p * p * p)) / 4.0
        |      AS v_bb,
        |    (s1 * (2.0 * p * q - 4.0 * p * p * q * q)
        |      + (s2 - 2.0 * s1) * (p * q - 4.0 * p * p * q * q)) / 4.0
        |      AS v_bw
        |  FROM c0)
        |SELECT n AS n_cells, n1 AS n_black,
        |  CAST(w // 2 AS BIGINT) AS j_links,
        |  CAST(bns // 2 AS BIGINT) AS bb,
        |  CAST(bw2 // 2 AS BIGINT) AS bw,
        |  CAST((w - bns - bw2) // 2 AS BIGINT) AS ww,
        |  CASE WHEN bad THEN NULL
        |    ELSE ${Parity.fixSql("e_bb0", 4)} END AS e_bb,
        |  CASE WHEN bad OR v_bb <= 0 THEN NULL
        |    ELSE ${Parity.fixSql("(CAST(bns AS DOUBLE) / 2.0 - e_bb0) / SQRT(v_bb)", 4)}
        |      END AS z_bb,
        |  CASE WHEN bad THEN NULL
        |    ELSE ${Parity.fixSql("e_bw0", 4)} END AS e_bw,
        |  CASE WHEN bad OR v_bw <= 0 THEN NULL
        |    ELSE ${Parity.fixSql("(CAST(bw2 AS DOUBLE) / 2.0 - e_bw0) / SQRT(v_bw)", 4)}
        |      END AS z_bw
        |FROM c1""".stripMargin
  /** L262 Ripley's K / L point-pattern statistics ([PK] Ripley 1976;
    * Besag's L transform): for the synthetic customer point field,
    * K̂(r) = A·Σ_{i≠j} 1[d_ij ≤ r]/n² at r ∈ {5°, 10°, 20°}, with
    * L̂(r) = √(K̂/π) − r. Under complete spatial randomness L̂ ≈ 0;
    * clustering pushes it positive at the cluster scale — the
    * multi-scale companion to q294/q295's single-lag autocorrelation
    * (which NonDegeneracySpec pins to the null band on this
    * hash-scattered field; L̂ must sit near zero here for the same
    * reason — but see below). Border-corrected variants exist; the
    * uncorrected estimator is used and documented (the field has no
    * privileged window edge).
    *
    * Point field: md5-derived coordinates, NOT the q149 linear
    * multiplicative hash the cell-level statistics use — measured on
    * the q149 field, the point pattern is a coarse LATTICE (key→key+1
    * steps lon by exactly 4.5° and lat by −33.9°), with zero pairs
    * inside 5° and an empty 10–20° annulus at both fixture SFs: every
    * K̂ cell was vacuous or duplicated. md5 scatters points properly,
    * and both engines compute it identically (the q326 hex-fold).
    *
    * Parity: the coordinates are the q131/q149 multiplicative-hash
    * chains (identical IEEE ops from identical ints in both engines);
    * pair predicates compare d² to r² — no sqrt before the final L
    * chain; pair counts are exact ints; K/L are one double chain, 4dp.
    *
    * Scale: Spark side buckets points into 20° cells (= max radius)
    * and joins only the 9 neighbour cells with an id < id cut — each
    * unordered pair appears exactly once, candidates ∝ n·density, not
    * n²; the DuckDB mirror brute-forces all pairs (0.1 s on the 15k
    * sf0.01 customers — suppliers were tried first and measured
    * VACUOUS: 10 points at sf0.001 give zero pairs at every radius).
    * One 1-row point-count broadcast (q242 form). */
  def q328RipleyK(s: SparkSession, dir: String): DataFrame = {
    val cell = 20.0
    val ck = col("c_custkey").cast("string")
    val pts = Tables.customer(s, dir).select(
        col("c_custkey").as("id"),
        mdLat(ck).as("y"), mdLon(ck).as("x"))
      .withColumn("cx", floor(col("x") / cell).cast("int"))
      .withColumn("cy", floor(col("y") / cell).cast("int"))
      .localCheckpoint(eager = false)
    val b = pts.select(col("id").as("id2"), col("x").as("x2"),
      col("y").as("y2"), col("cx").as("cx2"), col("cy").as("cy2"))
    val offsets = typedlit(for { dx <- -1 to 1; dy <- -1 to 1 }
      yield (dx, dy))
    val d2 = (col("x") - col("x2")) * (col("x") - col("x2")) +
      (col("y") - col("y2")) * (col("y") - col("y2"))
    val cnts = pts.withColumn("o", explode(offsets))
      .withColumn("jx", col("cx") + col("o._1"))
      .withColumn("jy", col("cy") + col("o._2"))
      .join(b, col("jx") === col("cx2") && col("jy") === col("cy2") &&
        col("id") < col("id2"))
      .agg(sum(when(d2 <= 25.0, 1L).otherwise(0L)).as("p5"),
        sum(when(d2 <= 100.0, 1L).otherwise(0L)).as("p10"),
        sum(when(d2 <= 400.0, 1L).otherwise(0L)).as("p20"))
    val tot = pts.agg(count(lit(1)).as("n"))
    val area = 360.0 * 170.0
    def f(c: String) = col(c).cast("double")
    val rows = cnts.crossJoin(broadcast(tot))
      .select(col("n"), explode(typedlit(Seq(5, 10, 20))).as("r"),
        col("p5"), col("p10"), col("p20"))
      .withColumn("p", when(col("r") === 5, col("p5"))
        .when(col("r") === 10, col("p10")).otherwise(col("p20")))
      // Sparse-field guard (r14 advisor, medium): the 9-neighbour
      // candidate join can be EMPTY even when n >= 2 (no two points in
      // the same or adjacent 20-degree cells), which leaves the pair
      // sums NULL — but the mirror's all-pairs brute force returns 0
      // there, and K-hat of a pairless field IS 0, not NULL. Coalesce
      // to 0 when n >= 2; stay NULL when n < 2 (the mirror's empty
      // self-join aggregates to NULL then, and K is undefined).
      .withColumn("p", when(col("n") >= 2, coalesce(col("p"), lit(0L))))
    val kHat = lit(area) * 2.0 * col("p").cast("double") /
      (f("n") * f("n"))
    rows.select(col("r").cast("long").as("r"),
        col("n").cast("long").as("n_points"),
        col("p").as("pairs_le_r"),
        Parity.fix(kHat, 4).as("k_hat"),
        Parity.fix(sqrt(kHat / math.Pi) - col("r").cast("double"),
          4).as("l_hat"))
      .orderBy("r")
  }

  val q328RipleyKSql: String =
    s"""WITH pts AS (
      |  SELECT c_custkey AS id,
      |    ${mdLatSql("CAST(c_custkey AS VARCHAR)")} AS y,
      |    ${mdLonSql("CAST(c_custkey AS VARCHAR)")} AS x
      |  FROM customer),
      |pc AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN (a.x - c.x) * (a.x - c.x)
      |      + (a.y - c.y) * (a.y - c.y) <= 25.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS p5,
      |    CAST(SUM(CASE WHEN (a.x - c.x) * (a.x - c.x)
      |      + (a.y - c.y) * (a.y - c.y) <= 100.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS p10,
      |    CAST(SUM(CASE WHEN (a.x - c.x) * (a.x - c.x)
      |      + (a.y - c.y) * (a.y - c.y) <= 400.0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS p20
      |  FROM pts a JOIN pts c ON a.id < c.id),
      |tot AS (SELECT COUNT(*) AS n FROM pts),
      |r3 AS (
      |  SELECT CAST(unnest([5, 10, 20]) AS BIGINT) AS r)
      |SELECT r, CAST(n AS BIGINT) AS n_points,
      |  CASE r WHEN 5 THEN p5 WHEN 10 THEN p10 ELSE p20 END
      |    AS pairs_le_r,
      |  ${Parity.fixSql("61200.0 * 2.0" +
                         " * (CASE r WHEN 5 THEN p5 WHEN 10 THEN p10 ELSE p20 END)" +
                         " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))", 4)}
      |    + 0 AS k_hat,
      |  ${Parity.fixSql("(SQRT(61200.0 * 2.0" +
                         " * (CASE r WHEN 5 THEN p5 WHEN 10 THEN p10 ELSE p20 END)" +
                         " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) / PI()) - r)", 4)}
      |    + 0 AS l_hat
      |FROM r3 CROSS JOIN pc CROSS JOIN tot
      |ORDER BY r""".stripMargin

  /** L267 hub distance-band census ([PK] the haversine formula,
    * R = 6371.0088 km IUGG mean radius): for each of the 25 nation
    * "hub" points (md5-scattered like the q328 customer field), how
    * many customers lie within 1,000 / 2,000 / 5,000 great-circle km,
    * and how close is the nearest — the geo-reach panel behind
    * "serviceable population per site" and geo-shard assignment. This
    * is the gating consumer of the `haversine_km` codegen kernel
    * (functions/MathExprs.scala) and its SQL registration.
    *
    * Parity: coordinates are the exact q328 md5 hex-fold chains; the
    * haversine chain is ONE fixed IEEE op order spelled identically in
    * the mirror (sin/cos/asin are the only libm ops, ≤1-ulp divergent;
    * band counts flip only if a pair sits within ~1e-9 km of a band
    * edge and min_km only within 1e-9 of a 1e-4 grid line —
    * measure-zero on hash-scattered fields, the q187/q103 convention).
    * Deliberately NO sum-of-distances column: a Σ over n ulp-divergent
    * doubles is the one aggregate that CAN drift across engines.
    *
    * Scale: customers × hubs is a broadcast nested loop over a ≤25-row
    * hub table — 25n candidate rows, fully map-side, then one
    * map-side-combinable 25-group aggregate; no shuffle of the fact
    * table, no pair blow-up. The kernel call itself stays inside
    * whole-stage codegen (one static-method call, no UDF deopt). */
  def q333HubBands(s: SparkSession, dir: String): DataFrame = {
    val ck = col("c_custkey").cast("string")
    val pts = Tables.customer(s, dir).select(
      mdLat(ck).as("y"), mdLon(ck).as("x"))
    // hub keys are SALTED ("hub:" prefix): nation key k and customer
    // key k share the md5 of the bare digits, which would pin 24 hubs
    // exactly onto customers 1..24 (min_km = 0 everywhere — measured)
    val hubKey = concat(lit("hub:"), col("n_nationkey").cast("string"))
    val hubs = Tables.nation(s, dir).select(
      col("n_nationkey").as("hub"),
      mdLat(hubKey).as("hy"), mdLon(hubKey).as("hx"))
    val d = graft.functions.MathFns.haversineKm(
      col("y"), col("x"), col("hy"), col("hx"))
    pts.crossJoin(broadcast(hubs))
      .select(col("hub"), d.as("km"))
      .groupBy(col("hub").cast("long").as("hub"))
      .agg(sum(when(col("km") <= 1000.0, 1L).otherwise(0L)).as("n_1000"),
        sum(when(col("km") <= 2000.0, 1L).otherwise(0L)).as("n_2000"),
        sum(when(col("km") <= 5000.0, 1L).otherwise(0L)).as("n_5000"),
        Parity.fix(min(col("km")), 4).as("min_km"))
      .orderBy("hub")
  }

  val q333HubBandsSql: String = {
    val ck = "CAST(c_custkey AS VARCHAR)"
    val hk = "'hub:' || CAST(n_nationkey AS VARCHAR)"
    s"""WITH pts AS (
       |  SELECT
       |    ${mdLatSql(ck)} AS y,
       |    ${mdLonSql(ck)} AS x
       |  FROM customer),
       |hubs AS (
       |  SELECT n_nationkey AS hub,
       |    ${mdLatSql(hk)} AS hy,
       |    ${mdLonSql(hk)} AS hx
       |  FROM nation),
       |dist AS (
       |  SELECT hub,
       |    2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
       |      SIN((hy - y) * (PI() / 180.0) / 2.0)
       |        * SIN((hy - y) * (PI() / 180.0) / 2.0)
       |      + COS(y * (PI() / 180.0)) * COS(hy * (PI() / 180.0))
       |        * SIN((hx - x) * (PI() / 180.0) / 2.0)
       |        * SIN((hx - x) * (PI() / 180.0) / 2.0)))) AS km
       |  FROM pts CROSS JOIN hubs)
       |SELECT CAST(hub AS BIGINT) AS hub,
       |  CAST(SUM(CASE WHEN km <= 1000.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_1000,
       |  CAST(SUM(CASE WHEN km <= 2000.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_2000,
       |  CAST(SUM(CASE WHEN km <= 5000.0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_5000,
       |  ${Parity.fixSql("MIN(km)", 4)} + 0 AS min_km
       |FROM dist
       |GROUP BY hub
       |ORDER BY hub""".stripMargin
  }

  /** L269 nearest-hub (Voronoi) assignment census: every customer is
    * assigned to its great-circle-nearest hub (q333's 25 salted md5
    * sites; ties broken by hub id — a total order, so the assignment
    * is deterministic and partitioning-independent), and the census
    * reports each hub's assigned population and its nearest/farthest
    * assignment distance — the geo-shard / catchment-area partition
    * behind "which site serves this row" at 100 TB.
    *
    * Scale — the operator's point: the argmin is an IN-ROW fold over
    * a 1-row broadcast 25-element hub ARRAY (collect_list of the
    * nation-derived hubs), so the fact table is NEVER shuffled — no
    * per-customer window, no 25n candidate exchange; the only
    * exchange is the final ≤25-group aggregate. The mirror brute-
    * forces the same assignment via CROSS JOIN + QUALIFY row_number
    * (the exact-definition form — fine at oracle SFs).
    *
    * Parity: the haversine chain is the q333 fixed IEEE op order; the
    * lexicographic (km, hub) argmin is order-independent, so the
    * collect_list's nondeterministic array order cannot change the
    * result; an argmin flip needs two hubs within ~1 ulp of
    * equidistance from a customer — measure-zero on md5-scattered
    * sites (the q333 band-edge convention). min/max are selections of
    * single kernel values, 4dp. */
  def q335NearestHub(s: SparkSession, dir: String): DataFrame = {
    val ck = col("c_custkey").cast("string")
    val pts = Tables.customer(s, dir).select(
      mdLat(ck).as("y"), mdLon(ck).as("x"))
    val hubKey = concat(lit("hub:"), col("n_nationkey").cast("string"))
    val hubArr = Tables.nation(s, dir).select(
        col("n_nationkey").cast("long").as("hub"),
        mdLat(hubKey).as("hy"), mdLon(hubKey).as("hx"))
      .agg(collect_list(struct(col("hub"), col("hy"), col("hx"))).as("hs"))
    val init = struct(lit(Double.PositiveInfinity).as("km"),
      lit(-1L).as("hub"))
    val best = aggregate(col("hs"), init, (acc, h) => {
      val d = graft.functions.MathFns.haversineKm(
        col("y"), col("x"), h("hy"), h("hx"))
      when(d < acc("km") || (d === acc("km") && h("hub") < acc("hub")),
        struct(d.as("km"), h("hub").as("hub"))).otherwise(acc)
    })
    pts.crossJoin(broadcast(hubArr))
      .select(best.as("b"))
      .select(col("b.hub").as("hub"), col("b.km").as("km"))
      .groupBy("hub")
      .agg(count(lit(1)).as("n_assigned"),
        Parity.fix(min(col("km")), 4).as("min_km"),
        Parity.fix(max(col("km")), 4).as("max_km"))
      .orderBy("hub")
  }

  val q335NearestHubSql: String = {
    val ck = "CAST(c_custkey AS VARCHAR)"
    val hk = "'hub:' || CAST(n_nationkey AS VARCHAR)"
    s"""WITH pts AS (
       |  SELECT c_custkey AS id,
       |    ${mdLatSql(ck)} AS y,
       |    ${mdLonSql(ck)} AS x
       |  FROM customer),
       |hubs AS (
       |  SELECT CAST(n_nationkey AS BIGINT) AS hub,
       |    ${mdLatSql(hk)} AS hy,
       |    ${mdLonSql(hk)} AS hx
       |  FROM nation),
       |d AS (
       |  SELECT id, hub,
       |    2.0 * 6371.0088 * ASIN(LEAST(1.0, SQRT(
       |      SIN((hy - y) * (PI() / 180.0) / 2.0)
       |        * SIN((hy - y) * (PI() / 180.0) / 2.0)
       |      + COS(y * (PI() / 180.0)) * COS(hy * (PI() / 180.0))
       |        * SIN((hx - x) * (PI() / 180.0) / 2.0)
       |        * SIN((hx - x) * (PI() / 180.0) / 2.0)))) AS km
       |  FROM pts CROSS JOIN hubs),
       |n AS (
       |  SELECT id, hub, km FROM d
       |  QUALIFY ROW_NUMBER() OVER (PARTITION BY id ORDER BY km, hub) = 1)
       |SELECT hub, COUNT(*) AS n_assigned,
       |  ${Parity.fixSql("MIN(km)", 4)} + 0 AS min_km,
       |  ${Parity.fixSql("MAX(km)", 4)} + 0 AS max_km
       |FROM n GROUP BY hub ORDER BY hub""".stripMargin
  }
}
