package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity._

/** Join operators J1–J7, J10 and set ops O3–O5 (SURVEY.md §2.3, §2.6).
  *
  * Scale notes: dimension sides (region/nation) are explicitly
  * `broadcast()`; orders⋈lineitem is a large-large equi-join left to
  * Catalyst (sort-merge + AQE above the broadcast threshold); theta joins
  * carry an equi key so they plan as sort-merge with a post-filter, never
  * a nested-loop over the full cross space.
  */
object JoinQueries {

  /** J1+J2+A2: star-join revenue rollup by region/nation. */
  def q2RevenueByNation(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    val r = broadcast(Tables.region(s, dir))
    val revenue = dm(col("l_extendedprice")) * (one - df(col("l_discount")))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dec4(sum(revenue)).as("revenue"), count(lit(1)).as("n_lines"))
      .orderBy("r_name", "n_name")
  }

  val q2RevenueByNationSql: String =
    s"""SELECT r_name, n_name,
       |  ${out4(s"SUM(CAST(l_extendedprice AS $DM) * (CAST(1 AS $DF) - CAST(l_discount AS $DF)))")} AS revenue,
       |  COUNT(*) AS n_lines
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name
       |ORDER BY r_name, n_name""".stripMargin

  /** J5 left anti: customers with no URGENT order (orphan check). */
  def q3NoUrgentCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val urgent = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
    c.join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment")
      .orderBy("c_custkey")
  }

  val q3NoUrgentCustomersSql: String =
    """SELECT c_custkey, c_name, c_mktsegment
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** J4 left semi: customers holding at least one open high-value order. */
  def q4BigSpenders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val big = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "O" && col("o_totalprice") > 300000)
    c.join(big, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), dec4(col("c_acctbal")).as("acctbal"))
      .orderBy("c_custkey")
  }

  val q4BigSpendersSql: String =
    s"""SELECT c_custkey, c_name, ${out4("c_acctbal")} AS acctbal
       |FROM customer c
       |WHERE EXISTS (SELECT 1 FROM orders o
       |  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
       |    AND o.o_totalprice > 300000)
       |ORDER BY c_custkey""".stripMargin

  /** J3 left outer + P4: per-customer URGENT order stats, zero-filled for
    * customers with none (exercises the null-producing outer path). */
  def q5UrgentFill(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val urgentAgg = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n0"), sum(dm(col("o_totalprice"))).as("s0"))
    c.join(urgentAgg, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("n0"), lit(0L)).as("n_urgent"),
        dec4(coalesce(col("s0"), lit(0))).as("urgent_spend"))
      .orderBy("c_custkey")
  }

  val q5UrgentFillSql: String =
    s"""SELECT c_custkey,
       |  COALESCE(n0, 0) AS n_urgent,
       |  ${out4("COALESCE(s0, 0)")} AS urgent_spend
       |FROM customer c
       |LEFT JOIN (SELECT o_custkey, COUNT(*) AS n0,
       |             SUM(CAST(o_totalprice AS $DM)) AS s0
       |           FROM orders WHERE o_orderpriority = '1-URGENT'
       |           GROUP BY o_custkey) u ON u.o_custkey = c.c_custkey
       |ORDER BY c_custkey""".stripMargin

  /** O3+O4: stack two per-status extracts (union-by-name), re-aggregate. */
  def q6UnionPriorities(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val f = o.filter(col("o_orderstatus") === "F")
      .select(col("o_orderpriority"), col("o_totalprice"))
    val open = o.filter(col("o_orderstatus") === "O")
      .select(col("o_orderpriority"), col("o_totalprice"))
    f.unionByName(open)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        dec4(sum(dm(col("o_totalprice")))).as("total_spend"))
      .orderBy("o_orderpriority")
  }

  val q6UnionPrioritiesSql: String =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       |  ${out4(s"SUM(CAST(o_totalprice AS $DM))")} AS total_spend
       |FROM (SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'F'
       |      UNION ALL
       |      SELECT o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'O')
       |GROUP BY o_orderpriority
       |ORDER BY o_orderpriority""".stripMargin

  /** O5 except: nations holding a top-20 customer (by account balance)
    * but no top-20 supplier.
    *
    * Non-degeneracy (r14, verdict mandate #3): the original "has
    * customers but no suppliers" was 0 rows at every SF — every nation
    * has both — so the query proved EXCEPT ran but never that it
    * selected anything; and any existence-EXCEPT over the fixed 25-
    * nation domain SATURATES as data grows (measured: a 9000-acctbal
    * threshold variant gave 11→18→0 rows across sf0.001→0.1). The
    * top-k form is scale-INVARIANT instead: both input sets have
    * constant size 20 at every SF (ties broken on the key), so the
    * EXCEPT's selectivity is a fixed hypergeometric draw over nations
    * — measured 8/9/8 rows at sf0.001/0.01/0.1, never empty, never
    * the full domain. Pinned in NonDegeneracySpec.
    *
    * Scale: each top-20 is a TakeOrderedAndProject (per-partition
    * top-k, then one 20-row merge at the driver-side reduce — no full
    * sort); the nation join is a 25-row broadcast; EXCEPT runs on two
    * ≤20-row sides. */
  def q7NationExcept(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val custNations = Tables.customer(s, dir)
      .orderBy(col("c_acctbal").desc, col("c_custkey")).limit(20)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("n_name")
    val suppNations = Tables.supplier(s, dir)
      .orderBy(col("s_acctbal").desc, col("s_suppkey")).limit(20)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("n_name")
    custNations.except(suppNations).orderBy("n_name")
  }

  val q7NationExceptSql: String =
    """SELECT n_name FROM (SELECT c_nationkey FROM customer
      |    ORDER BY c_acctbal DESC, c_custkey LIMIT 20) c
      |  JOIN nation ON c_nationkey = n_nationkey
      |EXCEPT
      |SELECT n_name FROM (SELECT s_nationkey FROM supplier
      |    ORDER BY s_acctbal DESC, s_suppkey LIMIT 20) s
      |  JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** O5 intersect: nations holding BOTH a top-20 customer and a top-20
    * supplier (by account balance) — the q7 construction (see its doc:
    * constant-size top-k sets make the selectivity scale-invariant;
    * the original whole-table form returned the full 25-nation domain
    * at every SF, the mirror-image degeneracy of q7's 0 rows).
    * Measured 6/6/4 rows at sf0.001/0.01/0.1. */
  def q8NationIntersect(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val custNations = Tables.customer(s, dir)
      .orderBy(col("c_acctbal").desc, col("c_custkey")).limit(20)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("n_name")
    val suppNations = Tables.supplier(s, dir)
      .orderBy(col("s_acctbal").desc, col("s_suppkey")).limit(20)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("n_name")
    custNations.intersect(suppNations).orderBy("n_name")
  }

  val q8NationIntersectSql: String =
    """SELECT n_name FROM (SELECT c_nationkey FROM customer
      |    ORDER BY c_acctbal DESC, c_custkey LIMIT 20) c
      |  JOIN nation ON c_nationkey = n_nationkey
      |INTERSECT
      |SELECT n_name FROM (SELECT s_nationkey FROM supplier
      |    ORDER BY s_acctbal DESC, s_suppkey LIMIT 20) s
      |  JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** J7 theta/range join (with equi blocking key): lines shipped within 60
    * days of their order, delay stats per priority. */
  def q9ShipDelay(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey") &&
        col("l_shipdate") >= col("o_orderdate") &&
        col("l_shipdate") <= col("o_orderdate") + expr("INTERVAL 60 DAY"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        rnd(avg(datediff(col("l_shipdate"), col("o_orderdate")))).as("avg_delay_days"))
      .orderBy("o_orderpriority")
  }

  val q9ShipDelaySql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_lines,
      |  ROUND(AVG(date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE))), 4) AS avg_delay_days
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  AND l_shipdate >= o_orderdate
      |  AND l_shipdate <= o_orderdate + INTERVAL 60 DAY
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** J6 cross join (bounded): region × order-status matrix. */
  def q10CrossMatrix(s: SparkSession, dir: String): DataFrame = {
    val r = Tables.region(s, dir).select("r_name")
    val st = Tables.orders(s, dir).select("o_orderstatus").distinct()
    r.crossJoin(st).orderBy("r_name", "o_orderstatus")
  }

  val q10CrossMatrixSql: String =
    """SELECT r_name, o_orderstatus
      |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
      |ORDER BY r_name, o_orderstatus""".stripMargin

  /** Schema-drift integration: stack two source extracts whose columns
    * only partially overlap, aligning by NAME with nulls for the columns
    * a source lacks (`unionByName(allowMissingColumns)`) — the
    * heterogeneous-sources half of "data integration". */
  def q68SchemaDriftUnion(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // source A exports priority but not status; source B the reverse
    val a = o.filter(col("o_orderkey") % 2 === 0)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderpriority"),
        lit("feed_a").as("src"))
    val b = o.filter(col("o_orderkey") % 2 === 1)
      .select(col("o_orderkey"), col("o_orderstatus"), lit("feed_b").as("src"))
    a.unionByName(b, allowMissingColumns = true)
      .orderBy("o_orderkey")
  }

  val q68SchemaDriftUnionSql: String =
    """SELECT * FROM (
      |  SELECT o_orderkey, o_custkey, o_orderpriority, 'feed_a' AS src
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT o_orderkey, o_orderstatus, 'feed_b' AS src
      |  FROM orders WHERE o_orderkey % 2 = 1)
      |ORDER BY o_orderkey""".stripMargin

  /** SCD2 change tracking: collapse each user's event-type stream into
    * validity intervals [valid_from, valid_to) with the current row
    * open-ended (null) — lag to detect changes, lead for the horizon. */
  def q69Scd2(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val wOrd = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val changed = e
      .withColumn("prev_type", lag(col("event_type"), 1).over(wOrd))
      .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
    val wChg = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    changed
      .withColumn("valid_to", lead(col("ts"), 1).over(wChg))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"))
      // (user_id, valid_from, event_type) is a total order over change
      // rows: two same-ts rows of the same user and type cannot both be
      // changes (the second would see prev_type == event_type)
      .orderBy("user_id", "valid_from", "event_type")
  }

  val q69Scd2Sql: String =
    """SELECT user_id, event_type, valid_from, valid_to FROM (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM (
      |    SELECT user_id, ts, event_id, event_type,
      |      LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |    FROM events)
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |ORDER BY user_id, valid_from, event_type""".stripMargin

  /** Merge/upsert (the MERGE INTO shape without a table format): apply a
    * changes feed (latest event value per user) onto a base snapshot
    * (each user's first-seen value) — matched rows update, unmatched
    * insert, everyone else carries over. Pure full-outer + coalesce, the
    * portable upsert at any scale. */
  def q70MergeUpsert(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val base = e.filter(col("event_type") === "view")
      .groupBy(col("user_id").as("b_user"))
      .agg(dec4(dm(min_by(col("value"), struct(col("ts"), col("event_id")))))
        .as("b_value"))
    val changes = e.filter(col("event_type") === "purchase")
      .groupBy(col("user_id").as("c_user"))
      .agg(dec4(dm(max_by(col("value"), struct(col("ts"), col("event_id")))))
        .as("c_value"))
    base.join(changes, col("b_user") === col("c_user"), "full_outer")
      .select(
        coalesce(col("b_user"), col("c_user")).as("user_id"),
        coalesce(col("c_value"), col("b_value")).as("value"),
        when(col("b_user").isNull, "insert")
          .when(col("c_user").isNull, "carryover")
          .otherwise("update").as("action"))
      .orderBy("user_id")
  }

  val q70MergeUpsertSql: String =
    // DuckDB 1.0 arg_min/arg_max reject struct ordering keys, so the
    // oracle picks first/last rows with ROW_NUMBER instead
    s"""WITH base AS (
       |  SELECT user_id AS b_user, ${out4(s"CAST(value AS $DM)")} AS b_value
       |  FROM (SELECT user_id, value, ROW_NUMBER() OVER (
       |          PARTITION BY user_id ORDER BY ts, event_id) AS rn
       |        FROM events WHERE event_type = 'view')
       |  WHERE rn = 1),
       |changes AS (
       |  SELECT user_id AS c_user, ${out4(s"CAST(value AS $DM)")} AS c_value
       |  FROM (SELECT user_id, value, ROW_NUMBER() OVER (
       |          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events WHERE event_type = 'purchase')
       |  WHERE rn = 1)
       |SELECT coalesce(b_user, c_user) AS user_id,
       |  coalesce(c_value, b_value) AS value,
       |  CASE WHEN b_user IS NULL THEN 'insert'
       |       WHEN c_user IS NULL THEN 'carryover'
       |       ELSE 'update' END AS action
       |FROM base FULL OUTER JOIN changes ON b_user = c_user
       |ORDER BY user_id""".stripMargin

  /** Spatial radius join via grid blocking — the geohash/S2-cell scale
    * pattern for "find all pairs within distance r": bucket both sides
    * into r-sized grid cells, expand each probe to its 3×3 cell
    * neighborhood (lossless: any point within r of (x, y) lies in an
    * adjacent cell when the cell edge ≥ r), equi-join on the cell key,
    * and refine with the exact distance. Candidates are ∝ local
    * density × 9, never |A|·|B|; the ORACLE is the quadratic all-pairs
    * definition, so the hash gate itself proves the blocking lossless.
    *
    * Coordinates are synthesized deterministically from the keys (the
    * q71 hash discipline) since the fixture carries no geo columns —
    * the OPERATOR under test is the join shape. Distance is planar
    * euclidean: products/sums of identical doubles and an IEEE-exact
    * sqrt, so both engines compute bit-identical distances and the
    * radius boundary cannot flip (no trig, whose cross-libm ulps
    * could).
    *
    * Scale: the 9-cell explode multiplies the probe side ×9 before one
    * equi-join — UNHINTED, because the build side scales with the data
    * (AQE broadcasts it at small SF, shuffles on the cell key when both
    * sides are large); skewed cells (urban cores) take the q-family
    * salting treatment. */
  def q131GeoJoin(s: SparkSession, dir: String): DataFrame = {
    val r = 20.0
    import SpatialStats.{gridLat => lat, gridLon => lon}
    val c = Tables.customer(s, dir).select(
      col("c_custkey"),
      lat(col("c_custkey")).as("clat"), lon(col("c_custkey")).as("clon"))
    val su = Tables.supplier(s, dir).select(
      col("s_suppkey"),
      lat(col("s_suppkey")).as("slat"), lon(col("s_suppkey")).as("slon"))
      .withColumn("scx", floor(col("slon") / r).cast("int"))
      .withColumn("scy", floor(col("slat") / r).cast("int"))
    val offsets = typedlit(for { dx <- -1 to 1; dy <- -1 to 1 }
      yield (dx, dy))
    c.withColumn("o", explode(offsets))
      .withColumn("jx", floor(col("clon") / r).cast("int") + col("o._1"))
      .withColumn("jy", floor(col("clat") / r).cast("int") + col("o._2"))
      .join(su, col("jx") === col("scx") && col("jy") === col("scy"))
      .withColumn("dist", sqrt(
        (col("clat") - col("slat")) * (col("clat") - col("slat")) +
          (col("clon") - col("slon")) * (col("clon") - col("slon"))))
      .filter(col("dist") <= r)
      .select(col("c_custkey"), col("s_suppkey"),
        round(col("dist"), 4).as("dist"))
      .orderBy("c_custkey", "s_suppkey")
  }

  val q131GeoJoinSql: String =
    s"""WITH c AS (
      |  SELECT c_custkey,
      |    ${SpatialStats.gridLatSql("c_custkey")} AS clat,
      |    ${SpatialStats.gridLonSql("c_custkey")} AS clon
      |  FROM customer),
      |s AS (
      |  SELECT s_suppkey,
      |    ${SpatialStats.gridLatSql("s_suppkey")} AS slat,
      |    ${SpatialStats.gridLonSql("s_suppkey")} AS slon
      |  FROM supplier)
      |SELECT c_custkey, s_suppkey,
      |  ROUND(SQRT((clat - slat) * (clat - slat)
      |           + (clon - slon) * (clon - slon)), 4) AS dist
      |FROM c CROSS JOIN s
      |WHERE SQRT((clat - slat) * (clat - slat)
      |         + (clon - slon) * (clon - slon)) <= 20.0
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** Point-in-time (AS OF) reconstruction over the q69 SCD2 history —
    * the temporal-table read side: "what was every user's state at T?"
    * is one predicate over the validity intervals, `valid_from ≤ T <
    * valid_to` (open-ended current rows via NULL). Composes the q69
    * operator directly — the SCD2 build is the expensive write-side
    * artifact; every AS OF read is then a cheap interval filter, which
    * at 100 TB is the whole argument for maintaining SCD2 at all
    * (partition the history by valid_from range and the filter prunes
    * partitions).
    *
    * Boundary semantics: a state change AT exactly T is visible (the
    * half-open interval convention); same-timestamp change pairs cannot
    * double-match because the earlier row's valid_to equals the tied
    * timestamp and fails `valid_to > T`. */
  def q130Scd2Asof(s: SparkSession, dir: String): DataFrame = {
    val t = lit("2024-01-15 12:00:00").cast("timestamp")
    q69Scd2(s, dir)
      .filter(col("valid_from") <= t &&
        (col("valid_to").isNull || col("valid_to") > t))
      .select("user_id", "event_type", "valid_from")
      .orderBy("user_id", "event_type")
  }

  val q130Scd2AsofSql: String =
    """SELECT user_id, event_type, valid_from FROM (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
      |  FROM (
      |    SELECT user_id, ts, event_id, event_type,
      |      LAG(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |    FROM events)
      |  WHERE prev_type IS NULL OR prev_type <> event_type)
      |WHERE valid_from <= TIMESTAMP '2024-01-15 12:00:00'
      |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 12:00:00')
      |ORDER BY user_id, event_type""".stripMargin

  /** CDC apply with tombstones — q70's merge completed with the DELETE
    * leg every real change-feed has: purchases after the cutoff upsert
    * a user's state, `error` events tombstone it. Per user the LATEST
    * post-cutoff change wins (max_by over the exact (ts, event_id)
    * struct — q28's keep-latest contract), then one full-outer merge:
    * carryover / update / insert survive, a winning tombstone removes
    * the row entirely — the MERGE … WHEN MATCHED THEN DELETE shape.
    *
    * Scale: two filtered keyed aggs (map-side combinable) + one
    * user-keyed full-outer join; tombstoned state drops BEFORE the sink
    * rather than accumulating as soft-deleted rows. */
  def q129CdcApply(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val cutoff = lit("2024-01-20 00:00:00").cast("timestamp")
    val base = e.filter(col("event_type") === "purchase" && col("ts") < cutoff)
      .groupBy(col("user_id").as("b_user"))
      .agg(dec4(dm(max_by(col("value"), struct(col("ts"), col("event_id")))))
        .as("b_value"))
    val changes = e
      .filter(col("ts") >= cutoff &&
        col("event_type").isin("purchase", "error"))
      .groupBy(col("user_id").as("c_user"))
      .agg(
        max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("op"),
        dec4(dm(max_by(when(col("event_type") === "purchase", col("value")),
          struct(col("ts"), col("event_id"))))).as("c_value"))
    base.join(changes, col("b_user") === col("c_user"), "full_outer")
      .filter(col("op").isNull || col("op") === "purchase")
      .select(
        coalesce(col("b_user"), col("c_user")).as("user_id"),
        coalesce(col("c_value"), col("b_value")).as("value"),
        when(col("c_user").isNull, "carryover")
          .when(col("b_user").isNull, "insert")
          .otherwise("update").as("action"))
      .orderBy("user_id")
  }

  // DuckDB 1.0 arg_max rejects struct ordering keys (q70 lesson) — the
  // oracle picks latest rows with ROW_NUMBER instead
  val q129CdcApplySql: String = {
    import Parity.{DM, out4}
    s"""WITH base AS (
       |  SELECT user_id AS b_user, ${out4(s"CAST(value AS $DM)")} AS b_value
       |  FROM (SELECT user_id, value, ROW_NUMBER() OVER (
       |          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events
       |        WHERE event_type = 'purchase'
       |          AND ts < TIMESTAMP '2024-01-20 00:00:00')
       |  WHERE rn = 1),
       |changes AS (
       |  SELECT user_id AS c_user, event_type AS op,
       |    CASE WHEN event_type = 'purchase'
       |         THEN ${out4(s"CAST(value AS $DM)")} END AS c_value
       |  FROM (SELECT user_id, event_type, value, ROW_NUMBER() OVER (
       |          PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
       |        FROM events
       |        WHERE ts >= TIMESTAMP '2024-01-20 00:00:00'
       |          AND event_type IN ('purchase', 'error'))
       |  WHERE rn = 1)
       |SELECT coalesce(b_user, c_user) AS user_id,
       |  coalesce(c_value, b_value) AS value,
       |  CASE WHEN c_user IS NULL THEN 'carryover'
       |       WHEN b_user IS NULL THEN 'insert'
       |       ELSE 'update' END AS action
       |FROM base FULL OUTER JOIN changes ON b_user = c_user
       |WHERE op IS NULL OR op = 'purchase'
       |ORDER BY user_id""".stripMargin
  }

  /** Full-snowflake local-supply revenue rollup — the TPC-H Q5-family
    * join-planning stress query: all seven schema tables in one plan
    * (lineitem ⋈ orders ⋈ customer ⋈ supplier ⋈ part ⋈ nation ⋈
    * region) with the classic cross-dimension correlation filter
    * `s_nationkey = c_nationkey` (supplier local to the customer),
    * date-range and part-size pushdown filters, and the q1 decimal
    * discipline on the discounted-revenue measure.
    *
    * Scale: the two fact-fact joins (lineitem–orders, then supplier /
    * part sides) shuffle on their keys; nation and region broadcast
    * (bounded dims); customer/supplier/part carry NO hint — they are
    * linearly-scaled dimensions, so the right strategy flips from
    * broadcast (small SF) to shuffle (100 TB) and AQE must make that
    * call, which is exactly what this query exercises, along with
    * Catalyst's join reordering and `InjectRuntimeFilter` on the
    * dimension-filtered fact scan (pinned for the generic shape by
    * PlanShapeSpec's runtime-bloom-filter guard). */
  def q125Snowflake(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1999-01-01")
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val p = Tables.part(s, dir).filter(col("p_size") <= 25)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(su, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), year(col("o_orderdate")).as("yr"))
      .agg(
        dec4(sum(dm(col("l_extendedprice")) * (one - df(col("l_discount")))))
          .as("rev"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "yr")
  }

  val q125SnowflakeSql: String =
    s"""SELECT r_name, year(CAST(o_orderdate AS DATE)) AS yr,
       |  ${Parity.out4(
      s"SUM(CAST(l_extendedprice AS ${Parity.DM}) * " +
        s"(CAST(1 AS ${Parity.DF}) - CAST(l_discount AS ${Parity.DF})))")}
       |    AS rev,
       |  COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
       |JOIN part ON l_partkey = p_partkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1999-01-01'
       |  AND p_size <= 25
       |GROUP BY r_name, yr
       |ORDER BY r_name, yr""".stripMargin

  /** Grid-density hotspot detection — the aggregation partner of
    * q131's radius join on the same synthetic lat/lon assignment:
    * customer counts per 10°-cell, smoothed over the 3×3 cell
    * neighborhood (a Getis–Ord-style local-density screen without the
    * variance term), flagging dense cells against their
    * neighborhood. Density maps, hotspot policing, store-siting — the
    * standard first query over any point dataset.
    *
    * Parity: cells and counts are exact integers (floor of a
    * one-decimal coordinate grid); the share divides once at output.
    *
    * Scale: points collapse to cells in one map-side hash agg
    * (output ≤ 36×17 cells at this size — but the shape holds for
    * meter-scale grids too: cells ∝ area, not points); the 9-way
    * neighbor lookup is an equi-join of the CELL table against its
    * exploded offsets — cell-sized, never point-sized. */
  def q149Hotspots(s: SparkSession, dir: String): DataFrame = {
    val cells = SpatialStats.customerGrid(s, dir)
      .groupBy("cx", "cy").agg(count(lit(1)).as("n"))
    val offsets = typedlit(for { dx <- -1 to 1; dy <- -1 to 1 }
      yield (dx, dy))
    val nbr = cells.withColumn("o", explode(offsets))
      .select((col("cx") + col("o._1")).as("cx"),
        (col("cy") + col("o._2")).as("cy"), col("n").as("nn"))
      .groupBy("cx", "cy").agg(sum("nn").as("nbhd"))
    cells.join(nbr, Seq("cx", "cy"))
      .select(col("cx"), col("cy"), col("n"), col("nbhd"),
        round(col("n").cast("double") / col("nbhd"), 4).as("share"))
      .filter(col("n") >= 2)
      .orderBy("cx", "cy")
  }

  val q149HotspotsSql: String =
    s"""WITH pts AS (${SpatialStats.customerGridSql}),
      |cells AS (SELECT cx, cy, COUNT(*) AS n FROM pts GROUP BY cx, cy),
      |offs AS (
      |  SELECT dx.dx, dy.dy
      |  FROM (SELECT unnest([-1, 0, 1]) AS dx) dx,
      |       (SELECT unnest([-1, 0, 1]) AS dy) dy),
      |nbr AS (
      |  SELECT c.cx + o.dx AS cx, c.cy + o.dy AS cy,
      |    CAST(SUM(c.n) AS BIGINT) AS nbhd
      |  FROM cells c CROSS JOIN offs o
      |  GROUP BY 1, 2)
      |SELECT c.cx, c.cy, c.n, nbr.nbhd,
      |  ROUND(CAST(c.n AS DOUBLE) / nbr.nbhd, 4) AS share
      |FROM cells c JOIN nbr ON c.cx = nbr.cx AND c.cy = nbr.cy
      |WHERE c.n >= 2
      |ORDER BY c.cx, c.cy""".stripMargin

  /** Salted skew join through the correctness gate — the fact join runs
    * through [[SkewJoin.saltedInnerJoin]] (two-path since round 7: a
    * Misra–Gries pass detects hot keys, salts only their rows, and
    * plain-joins the rest) while the oracle states the PLAIN join — so
    * the green hash is a machine-checked proof that salting changes the
    * physical row routing and nothing else. This is the q131/q118
    * pattern: oracle = semantics, Spark plan = the scale-safe rewrite.
    *
    * Why it exists: AQE's skew-join split handles oversized SMJ
    * partitions, but a hot key feeding an aggregation-after-join still
    * lands on one reducer; salting spreads it over `buckets` reducers
    * at the cost of replicating that key's right rows ×buckets
    * (SkewJoin scaladoc). The post-join agg here is exactly that
    * aggregation-after-join shape.
    *
    * This query's data has NO hot key (max orderkey multiplicity is 7
    * lines), so the detect pass provably finds nothing and every row
    * takes the unreplicated plain path — the two-path promise that
    * skew handling costs nothing when there is no skew. The hot path
    * goes through the same gate in [[q153SkewAttribution]], whose join
    * key really is skewed. Parity: revenue in exact int64 cents (q132
    * discipline); counts exact. Scale: one detect agg (bounded sketch
    * state) + one plain hash join + map-side-combinable 5-group agg. */
  def q139SaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).select(
      col("l_orderkey").as("o_orderkey"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("pc"))
    val o = Tables.orders(s, dir).select("o_orderkey", "o_orderpriority")
    SkewJoin.saltedInnerJoin(l, o, "o_orderkey", buckets = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), sum("pc").as("rev_cents"))
      .orderBy("o_orderpriority")
  }

  val q139SaltedJoinSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** The HOT path of [[SkewJoin.saltedInnerJoin]] through the oracle
    * gate — q139's complement. The join key here is `l_returnflag`,
    * whose three values carry ~25/50/25% of lineitem each, so ALL keys
    * clear the 1/64 hot-share threshold: the Misra–Gries pass flags
    * them, every left row gets a whole-row-hash salt, the 3-row dim is
    * replicated ×8 on (flag, salt), and the cold path is empty — the
    * exact mirror of q139's all-cold run. The oracle states the plain
    * join, so the green hash proves hot-path routing is also a pure
    * physical rewrite.
    *
    * The query itself is the classic "join the group mean back" shape:
    * per-flag average item price (exact int64-cent sum ÷ count, one
    * IEEE division both engines perform identically), joined back on
    * the skewed flag, keeping items priced above their flag's mean —
    * at 100 TB the textbook case where AQE can't help (the post-join
    * agg re-keys on the hot flag) and blanket salting would replicate
    * a big dim; here the dim is 3 rows and the bill is 24 routed rows.
    *
    * Parity: cents exact (q132); avg is one int64→double division both
    * sides compute bit-identically; strict `>` excludes boundary rows
    * consistently. Scale: detect agg (bounded sketch) + one (key,salt)
    * hash join + map-side 6-group agg. */
  def q153SkewAttribution(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).select(
      col("l_returnflag"), col("l_linestatus"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("pc"))
    val dim = l.groupBy("l_returnflag")
      .agg((sum("pc").cast("double") / count(lit(1))).as("avg_pc"))
    SkewJoin.saltedInnerJoin(l, dim, "l_returnflag", buckets = 8)
      .filter(col("pc") > col("avg_pc"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_items"), sum("pc").as("rev_cents"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q153SkewAttributionSql: String =
    """WITH l AS (
      |  SELECT l_returnflag, l_linestatus,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc
      |  FROM lineitem),
      |d AS (
      |  SELECT l_returnflag, CAST(SUM(pc) AS DOUBLE) / COUNT(*) AS avg_pc
      |  FROM l GROUP BY l_returnflag)
      |SELECT l.l_returnflag, l.l_linestatus, COUNT(*) AS n_items,
      |  CAST(SUM(l.pc) AS BIGINT) AS rev_cents
      |FROM l JOIN d USING (l_returnflag)
      |WHERE l.pc > d.avg_pc
      |GROUP BY l.l_returnflag, l.l_linestatus
      |ORDER BY l.l_returnflag, l.l_linestatus""".stripMargin

  /** Incremental JOIN maintenance — the delta decomposition behind
    * every materialized join view (DBSP / differential-dataflow
    * algebra): with A = A₀ ∪ ΔA and B = B₀ ∪ ΔB,
    *
    *   A ⋈ B = (A₀⋈B₀) ∪ (A₀⋈ΔB) ∪ (ΔA⋈B₀) ∪ (ΔA⋈ΔB)
    *
    * so refreshing a join view needs only the three delta terms — the
    * base⋈base term is yesterday's materialization, never recomputed.
    * Here both fact sides split on a 1996-01-01 cutoff (lineitem by
    * ship date, orders by order date), the Spark plan computes the
    * FOUR-WAY union explicitly, and the oracle states the plain join —
    * the hash gate proves the decomposition lossless, the q139/q153
    * "oracle = semantics, plan = rewrite" pattern applied to view
    * maintenance. q136 is the aggregation half of the same story
    * (merge of partials); this is the join half.
    *
    * At 100 TB the point is the delta terms' size: ΔA⋈B₀ and A₀⋈ΔB
    * shuffle |Δ| against a bucketed base (zero-exchange if both sides
    * are bucketed on the key, L71), and ΔA⋈ΔB is delta-sized on both
    * sides — the full-fact reshuffle never happens on refresh.
    *
    * Parity: cents exact (q132); groups are (priority, order-year) so
    * the output differs from q139's single-dimension agg. */
  def q156IncrJoin(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("1996-01-01").cast("date")
    val l = Tables.lineitem(s, dir).select(
      col("l_orderkey").as("ok"), col("l_shipdate"),
      expr("cast(round(l_extendedprice * 100) as bigint)").as("pc"))
    val o = Tables.orders(s, dir).select(
      col("o_orderkey").as("ok"), col("o_orderpriority"),
      year(col("o_orderdate")).as("oyear"))
    val lBase = l.filter(col("l_shipdate") < cutoff)
    val lDelta = l.filter(col("l_shipdate") >= cutoff)
    val oBase = o.filter(col("oyear") < 1996)
    val oDelta = o.filter(col("oyear") >= 1996)
    val joined = lBase.join(oBase, "ok")
      .unionByName(lBase.join(oDelta, "ok"))
      .unionByName(lDelta.join(oBase, "ok"))
      .unionByName(lDelta.join(oDelta, "ok"))
    joined.groupBy("o_orderpriority", "oyear")
      .agg(count(lit(1)).as("n_items"), sum("pc").as("rev_cents"))
      .orderBy("o_orderpriority", "oyear")
  }

  val q156IncrJoinSql: String =
    """SELECT o_orderpriority, CAST(YEAR(o_orderdate) AS INTEGER) AS oyear,
      |  COUNT(*) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
      |    AS rev_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderpriority, YEAR(o_orderdate)
      |ORDER BY o_orderpriority, oyear""".stripMargin

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM) — the join
    * variant where NULL keys MATCH each other instead of silently
    * dropping: per-(nation, segment) customer counts joined to
    * per-segment balance totals where the segment key is genuinely
    * nullable (BUILDING is nulled out, the "unknown segment" bucket
    * every cleaned feed has). A plain inner join would lose every
    * unknown-segment row — exactly the silent data loss this operator
    * exists to prevent; the oracle's IS NOT DISTINCT FROM pins the
    * match semantics.
    *
    * Parity: the NULL-last/NULL-first divergence between engines is
    * neutralized with an explicit NULLS FIRST in the oracle's ORDER BY
    * (Spark's default asc = nulls first; DuckDB's = nulls last).
    * Cents exact (q132).
    *
    * Scale: two map-side-combinable aggs off one shared scan + a
    * broadcast-sized (≤ segments+1 rows) join build — the null-safe
    * condition plans as a normal hash join on a null-tolerant key. */
  def q157NullsafeJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir).select(col("c_nationkey"),
      expr("nullif(c_mktsegment, 'BUILDING')").as("seg"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("bal"))
    val a = c.groupBy("c_nationkey", "seg").agg(count(lit(1)).as("n_cust"))
    val b = c.groupBy("seg").agg(sum("bal").as("tot_cents"))
      .withColumnRenamed("seg", "seg_b")
    a.join(broadcast(b), a("seg") <=> b("seg_b"), "inner")
      .select(col("c_nationkey"), col("seg"), col("n_cust"), col("tot_cents"))
      .orderBy(col("c_nationkey"), col("seg").asc_nulls_first)
  }

  val q157NullsafeJoinSql: String =
    """WITH c AS (
      |  SELECT c_nationkey, NULLIF(c_mktsegment, 'BUILDING') AS seg,
      |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer),
      |a AS (SELECT c_nationkey, seg, COUNT(*) AS n_cust
      |      FROM c GROUP BY c_nationkey, seg),
      |b AS (SELECT seg, CAST(SUM(bal) AS BIGINT) AS tot_cents
      |      FROM c GROUP BY seg)
      |SELECT a.c_nationkey, a.seg, a.n_cust, b.tot_cents
      |FROM a JOIN b ON a.seg IS NOT DISTINCT FROM b.seg
      |ORDER BY a.c_nationkey, a.seg NULLS FIRST""".stripMargin

  /** L340 native SQL MERGE INTO *(added r18; [PK] ISO SQL:2003 MERGE;
    * Spark SupportsRowLevelOperations API)* — q70 is the MERGE SHAPE
    * without a table format; this is the real statement: a CDC batch
    * derived from the customer fixture (updates for even keys, deletes
    * for multiples of 10) applied onto a base snapshot (keys not
    * divisible by 3) held in `graft.sources.MemMergeCatalog` — the
    * repo's SupportsRowLevelOperations catalog (S12) — via ONE
    * `MERGE INTO` exercising ALL THREE clause families: WHEN MATCHED
    * (DELETE and UPDATE), WHEN NOT MATCHED (guarded INSERT), and WHEN
    * NOT MATCHED BY SOURCE (an audit +1). The post-merge table is then
    * censused per segment; the DuckDB mirror computes the SAME end
    * state relationally (join + two anti-joins + union), so the oracle
    * is an independent reference for the entire Catalyst
    * RewriteMergeIntoTable → ReplaceData → commit path.
    *
    * Parity: bal rides the exact cent grid (`round(·*100)` — the q400
    * convention, cross-engine proven); all census values exact int64.
    *
    * Scale: the MERGE child plan (join of target and source, MergeRows)
    * is fully distributed — the same plan an Iceberg/Delta table
    * executes at 100 TB with groups = files and runtime group
    * filtering; only the demo catalog's storage is driver-bounded
    * (customer-dim scale here, documented in MemMergeCatalog).
    *
    * Concurrency (r18 advisor): unlike every other `queries` entry,
    * this one mutates session state at BUILD time (catalog conf,
    * DROP/CREATE/append on the fixed names `graftmem.cdc.accounts_q405`
    * / `graft_q405_src`, the MERGE itself). That is safe because the
    * driver contract is strictly SEQUENTIAL — Verify/Bench/fuzz run one
    * query at a time in one session (and MergeIntoSpec's suite runs on
    * its own session); re-running the entry rebuilds from DROP, which
    * is exactly the idempotence MergeIntoSpec pins. Concurrent
    * invocations in a shared session would race on those names — if a
    * parallel harness ever appears, suffix them per invocation. */
  def q405MergeIntoNative(s: SparkSession, dir: String): DataFrame = {
    s.conf.set("spark.sql.catalog.graftmem",
      classOf[graft.sources.MemMergeCatalog].getName)
    val t = "graftmem.cdc.accounts_q405"
    s.sql(s"DROP TABLE IF EXISTS $t")
    s.sql(s"CREATE TABLE $t (id BIGINT, seg STRING, bal BIGINT)")
    val base = Tables.customer(s, dir).select(
      col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
      expr("cast(round(c_acctbal * 100) as bigint)").as("bal"))
    base.filter(col("id") % 3 =!= 0).writeTo(t).append()
    base.filter(col("id") % 2 === 0)
      .select(col("id"), col("seg"), (col("bal") + 777L).as("bal"),
        when(col("id") % 10 === 0, "D").otherwise("U").as("op"))
      .createOrReplaceTempView("graft_q405_src")
    s.sql(s"""MERGE INTO $t AS tgt USING graft_q405_src AS src
      ON tgt.id = src.id
      WHEN MATCHED AND src.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET bal = src.bal
      WHEN NOT MATCHED AND src.op <> 'D' THEN
        INSERT (id, seg, bal) VALUES (src.id, src.seg, src.bal)
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET bal = tgt.bal + 1""")
    s.table(t).groupBy("seg")
      .agg(count(lit(1)).as("n_accounts"),
        sum(col("bal")).as("total_cents"),
        min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .orderBy("seg")
  }

  /** Mirror: the identical end state computed relationally — matched
    * updates (op ≠ 'D'), by-source audit bump via anti-join, guarded
    * inserts via the reverse anti-join; deletes fall out by exclusion. */
  val q405MergeIntoNativeSql: String =
    """WITH base AS (
      |  SELECT c_custkey AS id, c_mktsegment AS seg,
      |    CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal
      |  FROM customer),
      |tgt AS (SELECT * FROM base WHERE id % 3 <> 0),
      |src AS (
      |  SELECT id, seg, bal + 777 AS bal,
      |    CASE WHEN id % 10 = 0 THEN 'D' ELSE 'U' END AS op
      |  FROM base WHERE id % 2 = 0),
      |merged AS (
      |  SELECT t.id, t.seg, s.bal
      |  FROM tgt t JOIN src s ON t.id = s.id WHERE s.op <> 'D'
      |  UNION ALL
      |  SELECT t.id, t.seg, t.bal + 1 AS bal
      |  FROM tgt t ANTI JOIN src s ON t.id = s.id
      |  UNION ALL
      |  SELECT s.id, s.seg, s.bal
      |  FROM src s ANTI JOIN tgt t ON s.id = t.id
      |  WHERE s.op <> 'D')
      |SELECT seg, COUNT(*) AS n_accounts,
      |  CAST(SUM(bal) AS BIGINT) AS total_cents,
      |  CAST(MIN(id) AS BIGINT) AS min_id,
      |  CAST(MAX(id) AS BIGINT) AS max_id
      |FROM merged GROUP BY seg ORDER BY seg""".stripMargin
}
