package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Privacy-audit operators, split out of CurationQueries in round 12:
  * the k-anonymity ladder, l-diversity, and t-closeness — the standard
  * disclosure-risk triple over quasi-identifier groups. Quasi-group
  * censuses are hash aggs; the t-closeness EMD rides the 5-row global
  * priority census under an allowlisted broadcast grid.
  */
object PrivacyQueries {
  /** k-anonymity generalization ladder — the privacy audit a curation
    * pipeline runs before releasing tabular training data: at each
    * quasi-identifier generalization level (fine: nation × segment ×
    * $1k balance band; mid: × $5k band; coarse: nation × segment
    * only), how many QI groups exist, how many are smaller than k = 5,
    * and how many rows those small groups expose. Choosing the release
    * level IS reading this table: the coarsest level whose
    * rows-at-risk share is acceptable.
    *
    * Parity: bands come from floor(c_acctbal / const) — one IEEE
    * double division + floor, bit-identical across engines, and the
    * band value is only a GROUP KEY (never output). Scale: three
    * grouped counts — map-side-combinable, group cardinality ≤
    * nations × segments × bands (bounded), union of three
    * constant-width aggregates. */
  def q164KAnonymity(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    def level(name: String, keys: Seq[Column]): DataFrame =
      c.groupBy(keys: _*).agg(count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_at_risk"),
          sum("n").as("total"))
        .select(lit(name).as("level"), col("n_groups"), col("n_small"),
          col("rows_at_risk"), col("total"))
    val fine = level("1_fine", Seq(col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 1000)))
    val mid = level("2_mid", Seq(col("c_nationkey"), col("c_mktsegment"),
      floor(col("c_acctbal") / 5000)))
    val coarse = level("3_coarse", Seq(col("c_nationkey"), col("c_mktsegment")))
    val h = col("rows_at_risk") * 20000L + col("total")
    val d2 = col("total") * 2L
    fine.unionByName(mid).unionByName(coarse)
      .select(col("level"), col("n_groups"), col("n_small"),
        col("rows_at_risk"),
        (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("risk_share"))
      .orderBy("level")
  }

  val q164KAnonymitySql: String =
    """WITH
      |f AS (SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 1000) AS b,
      |        COUNT(*) AS n FROM customer GROUP BY 1, 2, 3),
      |m AS (SELECT c_nationkey, c_mktsegment, floor(c_acctbal / 5000) AS b,
      |        COUNT(*) AS n FROM customer GROUP BY 1, 2, 3),
      |c AS (SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      |        FROM customer GROUP BY 1, 2),
      |lv AS (
      |  SELECT '1_fine' AS level, COUNT(*) AS n_groups,
      |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
      |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
      |    CAST(SUM(n) AS BIGINT) AS total FROM f
      |  UNION ALL
      |  SELECT '2_mid', COUNT(*),
      |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
      |    CAST(SUM(n) AS BIGINT) FROM m
      |  UNION ALL
      |  SELECT '3_coarse', COUNT(*),
      |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT),
      |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT),
      |    CAST(SUM(n) AS BIGINT) FROM c)
      |SELECT level, n_groups, n_small, rows_at_risk,
      |  ((rows_at_risk * 20000 + total) // (total * 2)) / 10000.0 AS risk_share
      |FROM lv ORDER BY level""".stripMargin

  /** L133 l-diversity audit (Machanavajjhala et al. 2007 [PK]) — the
    * privacy check k-anonymity (q164) misses: a group can be large (k
    * safe) yet expose its members because the SENSITIVE attribute is
    * near-constant inside it. Per quasi-identifier group
    * (nation, order priority), measures distinct l, the entropy form
    * exp(H(sensitive)) (effective number of sensitive values — robust
    * to 99:1 skew that distinct-l calls diverse), and flags groups
    * below l = 3 with the row count at risk.
    *
    * Parity: counts exact int64; entropy terms nano-quantized before
    * the per-group integer SUM (q185 discipline); exp of the resulting
    * fixed double is IEEE-identical.
    *
    * Scale: two keyed map-side-combinable counts (group×sensitive,
    * then group) — the k-anon census shape with one extra key level. */
  def q195LDiversity(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val joined = o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .select(col("c_nationkey").as("nation"),
        col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"))
    val cell = joined.groupBy("nation", "priority", "status")
      .agg(count(lit(1)).as("cs"))
    val wg = Window.partitionBy("nation", "priority")
    val n = sum(col("cs")).over(wg)
    val term = -(col("cs").cast("double") / col("n").cast("double")) *
      log(col("cs").cast("double") / col("n").cast("double"))
    cell.withColumn("n", n)
      .select(col("nation"), col("priority"), col("n"),
        Parity.quant(term, 1e9).as("tq"))
      .groupBy("nation", "priority", "n")
      .agg(count(lit(1)).as("l_distinct"), sum("tq").as("sq"))
      .select(col("nation"), col("priority"), col("n").as("n_rows"),
        col("l_distinct"),
        // exp is the one op in this chain where the two libms disagree
        // by 1 ulp — round to 6dp (the Parity.rnd residual-risk trade)
        round(exp(col("sq").cast("double") / lit(1.0e9)), 6).as("l_entropy"),
        when(col("l_distinct") < 3L, lit(1L)).otherwise(lit(0L))
          .as("below_l3"))
      .orderBy("nation", "priority")
  }

  val q195LDiversitySql: String =
    """WITH j AS (
      |  SELECT c_nationkey AS nation, o_orderpriority AS priority,
      |    o_orderstatus AS status
      |  FROM orders JOIN customer ON o_custkey = c_custkey),
      |cell AS (
      |  SELECT nation, priority, status, COUNT(*) AS cs
      |  FROM j GROUP BY nation, priority, status),
      |w AS (
      |  SELECT nation, priority, cs,
      |    CAST(SUM(cs) OVER (PARTITION BY nation, priority) AS BIGINT) AS n
      |  FROM cell),
      |q AS (
      |  SELECT nation, priority, n,
      |    CAST(FLOOR(
      |      -(CAST(cs AS DOUBLE) / CAST(n AS DOUBLE))
      |        * ln(CAST(cs AS DOUBLE) / CAST(n AS DOUBLE))
      |      * 1e9 + 0.5) AS BIGINT) AS tq
      |  FROM w)
      |SELECT nation, priority, n AS n_rows, COUNT(*) AS l_distinct,
      |  ROUND(exp(CAST(SUM(tq) AS DOUBLE) / 1e9), 6) AS l_entropy,
      |  CAST(CASE WHEN COUNT(*) < 3 THEN 1 ELSE 0 END AS BIGINT) AS below_l3
      |FROM q GROUP BY nation, priority, n
      |ORDER BY nation, priority""".stripMargin

  /** L170 t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007
    * [PK]): per (nation, segment) quasi-group, the Earth Mover's
    * Distance between the group's sensitive-attribute distribution
    * (order priority) and the global one — for a NOMINAL attribute
    * with unit ground distance, EMD = total-variation = ½Σ|p−q|,
    * INCLUDING the mass of priorities absent from the group (the full
    * 5-cell grid is materialized; a missing cell contributes its
    * whole global share). Completes the privacy ladder: k-anonymity
    * (q164) bounds group SIZE, l-diversity (q195) bounds sensitive
    * VARIETY, t-closeness bounds sensitive DISTRIBUTION SKEW.
    *
    * Reported as the ranked worst-10 audit rather than a fixed-t flag:
    * TV concentrates as 1/√(group size), so any fixed t that fires at
    * one SF is silent at another (measured: max TV 0.372 / 0.149 /
    * 0.048 at the three SFs) — a fixed flag would be exactly the
    * vacuous screen NonDegeneracySpec exists to forbid. The ranked
    * form is non-degenerate by construction and is how t is chosen in
    * practice (read the tail, pick the cutoff).
    *
    * Parity: all censuses exact int64; per-cell |p−q| quantized to
    * micro-units before the integer sum; ordering decides on the
    * QUANTIZED tv (int) with (nation, segment) tie-break — no double
    * ever orders the result.
    *
    * Scale: one (nation, seg, priority) census (map-side combinable);
    * the grid is |groups|×5 built from broadcast censuses; top-10 is
    * a TakeOrderedAndProject. */
  def q236TCloseness(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("n_name"), col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("pr"))
    val g = o.groupBy("n_name", "seg", "pr").agg(count(lit(1)).as("n"))
    val grp = g.groupBy("n_name", "seg").agg(sum(col("n")).as("ng"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val glob = o.groupBy("pr").agg(count(lit(1)).as("ngl"))
      .withColumn("nt", sum(col("ngl")).over(wAll))
    val grid = grp.crossJoin(broadcast(glob))
      .join(g, Seq("n_name", "seg", "pr"), "left")
      .withColumn("nc", coalesce(col("n"), lit(0L)))
    val cell = abs(col("nc").cast("double") / col("ng") -
      col("ngl").cast("double") / col("nt"))
    grid
      .select(col("n_name"), col("seg"), col("ng"),
        Parity.quant(cell, 1e6).as("cq"))
      .groupBy("n_name", "seg", "ng")
      .agg(sum(col("cq")).as("tvq"))
      .orderBy(col("tvq").desc, col("n_name"), col("seg"))
      .limit(10)
      .select(col("n_name"), col("seg").as("c_mktsegment"),
        col("ng").as("n_orders"),
        // tvq/2 at 6dp: odd tvq lands exactly on .xxxxxx5, where
        // round(double, 6) half-ups the SHORTEST-DECIMAL repr in Spark
        // but the BINARY value in DuckDB (the q96/q143 class — caught
        // by fuzz seed 101). tvq is an exact integer, so do the
        // half-up in integer arithmetic: (tvq+1) div 2 quanta.
        (expr("(tvq + 1) div 2").cast("double") / 1e6).as("tv_emd"))
  }

  val q236TClosenessSql: String =
    """WITH o AS (
      |  SELECT n_name, c_mktsegment AS seg, o_orderpriority AS pr
      |  FROM orders
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey),
      |g AS (SELECT n_name, seg, pr, COUNT(*) AS n FROM o GROUP BY 1, 2, 3),
      |grp AS (SELECT n_name, seg, CAST(SUM(n) AS BIGINT) AS ng
      |  FROM g GROUP BY 1, 2),
      |gl AS (
      |  SELECT pr, COUNT(*) AS ngl, CAST(SUM(COUNT(*)) OVER () AS BIGINT)
      |    AS nt
      |  FROM o GROUP BY 1),
      |grid AS (
      |  SELECT grp.n_name, grp.seg, grp.ng, gl.pr, gl.ngl, gl.nt,
      |    COALESCE(g.n, 0) AS nc
      |  FROM grp CROSS JOIN gl
      |  LEFT JOIN g ON g.n_name = grp.n_name AND g.seg = grp.seg
      |    AND g.pr = gl.pr),
      |tv AS (
      |  SELECT n_name, seg, ng,
      |    CAST(SUM(CAST(FLOOR(abs(CAST(nc AS DOUBLE) / ng
      |      - CAST(ngl AS DOUBLE) / nt) * 1e6 + 0.5) AS BIGINT)) AS BIGINT)
      |      AS tvq
      |  FROM grid GROUP BY 1, 2, 3)
      |SELECT n_name, seg AS c_mktsegment, ng AS n_orders,
      |  CAST((tvq + 1) // 2 AS DOUBLE) / 1e6 AS tv_emd
      |FROM tv
      |ORDER BY tvq DESC, n_name, seg LIMIT 10""".stripMargin
}
