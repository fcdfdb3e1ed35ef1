package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity._

/** Aggregation operators A3–A11, P4–P6 (SURVEY.md §2.4, §2.2).
  *
  * All shapes are partial-agg friendly (map-side combine happens
  * automatically in Spark's hash aggregate); no driver-side collection.
  */
object AggQueries {

  /** A6 rollup + A3 having-style post-filter via grouping id. */
  def q11Rollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    // DataFrame rollup + orderBy trips Spark's ambiguous-self-join check
    // (the Expand node re-emits the grouping attrs); the SQL surface
    // resolves cleanly and exercises spark.sql() as an entry point.
    o.createOrReplaceTempView("q11_orders")
    c.createOrReplaceTempView("q11_customer")
    s.sql(
      s"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  CAST(grouping_id() AS BIGINT) AS gid
         |FROM q11_orders JOIN q11_customer ON o_custkey = c_custkey
         |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)
         |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  val q11RollupSql: String =
    s"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
       |  ${out4(s"SUM(CAST(o_totalprice AS $DM))")} AS revenue,
       |  CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY ROLLUP(c_mktsegment, o_orderpriority)
       |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** A4 exact count-distinct per group. */
  def q12DistinctParts(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    l.groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_lines"))
      .orderBy("l_returnflag")
  }

  val q12DistinctPartsSql: String =
    """SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps, COUNT(*) AS n_lines
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A8 min_by/max_by: cheapest and priciest order per customer
    * (no (custkey,totalprice) ties in the fixtures → deterministic). */
  def q13ArgMinMax(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    // tie-break on orderkey (r12 fuzz find: bare min/max_by is
    // under-specified under price ties and the engines legitimately
    // disagree) — max side keeps the LARGEST key among tied maxima,
    // min side the smallest, matching the mirror's ROW_NUMBER order
    o.groupBy("o_custkey")
      .agg(max_by(col("o_orderkey"),
        struct(col("o_totalprice"), col("o_orderkey"))).as("best_order"),
        min_by(col("o_orderkey"),
          struct(col("o_totalprice"), col("o_orderkey"))).as("worst_order"),
        dec4(max(dm(col("o_totalprice")))).as("best_price"))
      .orderBy("o_custkey")
  }

  val q13ArgMinMaxSql: String =
    s"""WITH r AS (
       |  SELECT o_custkey, o_orderkey, o_totalprice,
       |    ROW_NUMBER() OVER (PARTITION BY o_custkey
       |      ORDER BY o_totalprice DESC, o_orderkey DESC) AS rb,
       |    ROW_NUMBER() OVER (PARTITION BY o_custkey
       |      ORDER BY o_totalprice ASC, o_orderkey ASC) AS rw
       |  FROM orders)
       |SELECT o_custkey,
       |  MAX(CASE WHEN rb = 1 THEN o_orderkey END) AS best_order,
       |  MAX(CASE WHEN rw = 1 THEN o_orderkey END) AS worst_order,
       |  ${out4(s"MAX(CAST(o_totalprice AS $DM))")} AS best_price
       |FROM r GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** A9 statistical aggregates (rounded doubles — decimal impossible). */
  def q14Stats(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    l.groupBy("l_returnflag")
      .agg(rnd(stddev_samp(col("l_extendedprice"))).as("sd_price"),
        rnd(var_samp(col("l_quantity"))).as("var_qty"),
        (rnd(corr(col("l_quantity"), col("l_extendedprice")), 6) + 0.0)
          .as("corr_qty_price"),
        (rnd(covar_samp(col("l_quantity"), col("l_discount")), 6) + 0.0)
          .as("covar_qty_disc"))
      .orderBy("l_returnflag")
  }

  val q14StatsSql: String =
    """SELECT l_returnflag,
      |  ROUND(stddev_samp(l_extendedprice), 4) AS sd_price,
      |  ROUND(var_samp(l_quantity), 4) AS var_qty,
      |  ROUND(corr(l_quantity, l_extendedprice), 6) + 0 AS corr_qty_price,
      |  ROUND(covar_samp(l_quantity, l_discount), 6) + 0 AS covar_qty_disc
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** A10 exact percentiles (continuous interpolation both engines).
    * The multi-probability array form of `percentile` is the surface
    * under test; the OUTPUT unpacks it to scalar columns because the
    * driver's pandas hasher cannot sort/hash array cells. */
  def q15Percentiles(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val quarts = transform(percentile(col("o_totalprice"),
      array(lit(0.25), lit(0.5), lit(0.75))), x => round(x, 4))
    o.join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(quarts.as("q"),
        rnd(percentile(col("o_totalprice"), lit(0.9))).as("p90"))
      .select(col("c_mktsegment"),
        element_at(col("q"), 1).as("p25"),
        element_at(col("q"), 2).as("p50"),
        element_at(col("q"), 3).as("p75"),
        col("p90"))
      .orderBy("c_mktsegment")
  }

  val q15PercentilesSql: String =
    """SELECT c_mktsegment, q[1] AS p25, q[2] AS p50, q[3] AS p75, p90 FROM (
      |  SELECT c_mktsegment,
      |    list_transform(quantile_cont(o_totalprice, [0.25, 0.5, 0.75]), x -> ROUND(x, 4)) AS q,
      |    ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY c_mktsegment)
      |ORDER BY c_mktsegment""".stripMargin

  /** A7 sorted set-collect per group (hazard #3: arrays always sorted).
    * Output flattens the set to a joined string — the driver's pandas
    * hasher cannot sort/hash array cells; string join of sorted string
    * elements is lossless and formats identically on both engines. */
  def q16CollectSegments(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val n = broadcast(Tables.nation(s, dir))
    c.join(n, col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(array_join(sort_array(collect_set(col("c_mktsegment"))), ",")
          .as("segments"),
        countDistinct(col("c_mktsegment")).as("n_segments"))
      .orderBy("n_name")
  }

  val q16CollectSegmentsSql: String =
    """SELECT n_name,
      |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
      |  COUNT(DISTINCT c_mktsegment) AS n_segments
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** A11 pivot: event counts per type, one column per category.
    * Oracle mirrors Spark's pivot via FILTERed counts. */
  def q17PivotEvents(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy("user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill ONLY the pivot columns: a blanket fill(0) also rewrote a
      // NULL user_id key to user 0 (r12 fuzz find)
      .na.fill(0, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id")
  }

  val q17PivotEventsSql: String =
    """SELECT user_id,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS view
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** P5+P2 conditional recode: order-size buckets via CASE. */
  def q18CaseBuckets(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val bucket = when(col("o_totalprice") < 100000, "small")
      .when(col("o_totalprice") < 250000, "medium")
      .otherwise("large")
    o.groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        dec4(sum(dm(col("o_totalprice")))).as("revenue"))
      .orderBy("bucket")
  }

  val q18CaseBucketsSql: String =
    s"""SELECT CASE WHEN o_totalprice < 100000 THEN 'small'
       |            WHEN o_totalprice < 250000 THEN 'medium'
       |            ELSE 'large' END AS bucket,
       |  COUNT(*) AS n_orders,
       |  ${out4(s"SUM(CAST(o_totalprice AS $DM))")} AS revenue
       |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin

  /** P4 null handling: synthesize nulls (negative balances), count/fill. */
  def q19NullHandling(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val posBal = when(col("c_acctbal") >= 0, col("c_acctbal"))
    c.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_cust"),
        count(posBal).as("n_nonneg"),
        dec4(sum(coalesce(dm(posBal), lit(0)))).as("pos_balance"),
        dec4(avg(dm(posBal))).as("avg_pos_balance"))
      .orderBy("c_mktsegment")
  }

  val q19NullHandlingSql: String =
    s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
       |  COUNT(CASE WHEN c_acctbal >= 0 THEN c_acctbal END) AS n_nonneg,
       |  ${out4(s"SUM(COALESCE(CAST(CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS $DM), 0))")} AS pos_balance,
       |  ${out4(s"AVG(CAST(CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS $DM))")} AS avg_pos_balance
       |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** P6 distinct + O4 union-distinct: nations seen on either side. */
  def q20UnionDistinct(s: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(s, dir)
    val custN = Tables.customer(s, dir)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select("n_name")
    val suppN = Tables.supplier(s, dir)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("n_name")
    custN.union(suppN).distinct().orderBy("n_name")
  }

  val q20UnionDistinctSql: String =
    """SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
      |UNION
      |SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |ORDER BY n_name""".stripMargin

  /** A6 cube + grouping sets: the full multi-level subtotal lattice over
    * (returnflag, linestatus), via spark.sql like q11 (the DataFrame
    * cube + orderBy hits the same ambiguous-Expand check). */
  def q64Cube(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir).createOrReplaceTempView("q64_lineitem")
    s.sql(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(13,4))) AS DECIMAL(18,4)) AS DOUBLE) AS qty,
         |  CAST(grouping_id() AS BIGINT) AS gid
         |FROM q64_lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin)
  }

  val q64CubeSql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(13,4))), 4) AS DECIMAL(18,4)) AS DOUBLE) AS qty,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
      |FROM lineitem
      |GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY gid, l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  /** A6 explicit GROUPING SETS (the general form rollup/cube compile
    * to): segment×priority detail, segment subtotals, and the grand
    * total — but NOT priority-only (the set rollup would add), proving
    * the set list is honored as written. */
  def q82GroupingSets(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("q82_orders")
    Tables.customer(s, dir).createOrReplaceTempView("q82_customer")
    s.sql(
      s"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
         |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DECIMAL(18,4)) AS DOUBLE) AS revenue,
         |  CAST(grouping_id() AS BIGINT) AS gid
         |FROM q82_orders JOIN q82_customer ON o_custkey = c_custkey
         |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
         |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin)
  }

  val q82GroupingSetsSql: String =
    s"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n_orders,
       |  ${out4(s"SUM(CAST(o_totalprice AS $DM))")} AS revenue,
       |  CAST(GROUPING(c_mktsegment, o_orderpriority) AS BIGINT) AS gid
       |FROM orders JOIN customer ON o_custkey = c_custkey
       |GROUP BY GROUPING SETS ((c_mktsegment, o_orderpriority), (c_mktsegment), ())
       |ORDER BY gid, c_mktsegment ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin

  /** J3 full outer: big spenders vs frequent buyers — each side keeps
    * customers the other side lacks (nulls on the missing side). */
  def q65FullOuter(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val spend = o.groupBy(col("o_custkey").as("s_custkey"))
      .agg(dec4(sum(dm(col("o_totalprice")))).as("total_spend"))
      .filter(col("total_spend") > 400000)
    val freq = o.groupBy(col("o_custkey").as("f_custkey"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") >= 3)
    spend.join(freq, col("s_custkey") === col("f_custkey"), "full_outer")
      .select(
        coalesce(col("s_custkey"), col("f_custkey")).as("custkey"),
        col("total_spend"), col("n_orders"))
      .orderBy("custkey")
  }

  val q65FullOuterSql: String =
    s"""SELECT coalesce(s_custkey, f_custkey) AS custkey, total_spend, n_orders
       |FROM (SELECT o_custkey AS s_custkey,
       |        ${out4(s"SUM(CAST(o_totalprice AS $DM))")} AS total_spend
       |      FROM orders GROUP BY 1 HAVING total_spend > 400000) s
       |FULL OUTER JOIN
       |     (SELECT o_custkey AS f_custkey, COUNT(*) AS n_orders
       |      FROM orders GROUP BY 1 HAVING n_orders >= 3) f
       |  ON s_custkey = f_custkey
       |ORDER BY custkey""".stripMargin

  /** O5 bag semantics: exceptAll / intersectAll of order-priority
    * multisets from two halves of the orders table (duplicates count). */
  def q66BagOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val a = o.filter(col("o_orderkey") % 2 === 0).select("o_orderpriority")
    val b = o.filter(col("o_orderkey") % 3 === 0).select("o_orderpriority")
    val ex = a.exceptAll(b).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val in = a.intersectAll(b).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ex.unionByName(in).select("op", "o_orderpriority", "n")
      .orderBy("op", "o_orderpriority")
  }

  val q66BagOpsSql: String =
    """WITH a AS (SELECT o_orderpriority FROM orders WHERE o_orderkey % 2 = 0),
      |     b AS (SELECT o_orderpriority FROM orders WHERE o_orderkey % 3 = 0)
      |SELECT 'except_all' AS op, o_orderpriority, COUNT(*) AS n
      |FROM (SELECT o_orderpriority FROM a EXCEPT ALL SELECT o_orderpriority FROM b)
      |GROUP BY 2
      |UNION ALL
      |SELECT 'intersect_all' AS op, o_orderpriority, COUNT(*) AS n
      |FROM (SELECT o_orderpriority FROM a INTERSECT ALL SELECT o_orderpriority FROM b)
      |GROUP BY 2
      |ORDER BY op, o_orderpriority""".stripMargin

  /** A9 extension — grouped ordinary-least-squares trend: per order
    * priority, the slope / intercept / R² of total price regressed on
    * order date (epoch days). Both engines evaluate the same ANSI
    * `regr_slope/regr_intercept/regr_r2` aggregates (population
    * covariance over population variance), so the surface under test
    * is the regression-aggregate family itself, not a hand-rolled
    * covar/var quotient.
    *
    * Parity: x is an exact integer day count cast to double (lossless
    * below 2^53); the regression outputs are doubles whose
    * partition-order summation jitter sits ~1e-10 below the q14-style
    * rounding grid (slope/r2 at 6 places, intercept at 2 — intercept
    * magnitude is ~1e5 so its absolute jitter is the largest), with
    * `+ 0.0` normalizing any rounded negative zero.
    *
    * Scale: one map-side-combinable hash aggregation over orders; the
    * regression state is 6 doubles per group, output bounded by the
    * 5-value priority domain. No joins, no windows. */
  def q111GroupedRegression(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).withColumn("x",
      datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
        .cast("double"))
    o.groupBy("o_orderpriority")
      .agg((rnd(regr_slope(col("o_totalprice"), col("x")), 6) + 0.0)
          .as("slope"),
        (rnd(regr_intercept(col("o_totalprice"), col("x")), 2) + 0.0)
          .as("icept"),
        (rnd(regr_r2(col("o_totalprice"), col("x")), 6) + 0.0).as("r2"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  val q111GroupedRegressionSql: String =
    """SELECT o_orderpriority,
      |  ROUND(regr_slope(o_totalprice, x), 6) + 0 AS slope,
      |  ROUND(regr_intercept(o_totalprice, x), 2) + 0 AS icept,
      |  ROUND(regr_r2(o_totalprice, x), 6) + 0 AS r2,
      |  COUNT(*) AS n
      |FROM (SELECT o_orderpriority, o_totalprice,
      |        CAST(date_diff('day', DATE '1970-01-01', o_orderdate) AS DOUBLE) AS x
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Weekly OHLC resampling — the financial downsample: per (week,
    * priority) bucket, the OPENING order value (first by time), the
    * CLOSING value (last by time), high, low, and volume. The
    * first/last-in-bucket selections run as `min_by`/`max_by` against a
    * single exact-integer order key (epoch-day·10¹² + orderkey — a
    * total order, so ties cannot make argmin engine-dependent; the q13
    * A8 family hardened for time series).
    *
    * Scale: one map-side-combinable hash agg — min_by/max_by carry one
    * (value, ord) pair of state per bucket; no windows, no sort until
    * the bounded output. */
  def q128WeeklyOhlc(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .withColumn("week", date_trunc("week", col("o_orderdate")).cast("date"))
      .withColumn("ord",
        datediff(col("o_orderdate"), lit("1970-01-01").cast("date"))
          .cast("long") * 1000000000000L + col("o_orderkey"))
    o.groupBy("week", "o_orderpriority")
      .agg(min_by(col("o_totalprice"), col("ord")).as("open"),
        max(col("o_totalprice")).as("high"),
        min(col("o_totalprice")).as("low"),
        max_by(col("o_totalprice"), col("ord")).as("close"),
        count(lit(1)).as("volume"))
      .filter(col("week") >= lit("1998-01-01"))
      .orderBy("week", "o_orderpriority")
  }

  val q128WeeklyOhlcSql: String =
    """SELECT CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE) AS week,
      |  o_orderpriority,
      |  arg_min(o_totalprice, ord) AS open,
      |  MAX(o_totalprice) AS high,
      |  MIN(o_totalprice) AS low,
      |  arg_max(o_totalprice, ord) AS close,
      |  COUNT(*) AS volume
      |FROM (
      |  SELECT o_orderdate, o_orderpriority, o_totalprice,
      |    CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
      |         AS BIGINT) * 1000000000000 + o_orderkey AS ord
      |  FROM orders)
      |GROUP BY week, o_orderpriority
      |HAVING week >= DATE '1998-01-01'
      |ORDER BY week, o_orderpriority""".stripMargin

  /** RFM customer segmentation — the classic marketing-analytics
    * quantile grid: per customer recency (last order date), frequency
    * (order count), monetary (lifetime spend), each independently
    * quintile-bucketed under a deterministic total order (measure, then
    * custkey — NTILE with an under-specified ORDER BY is
    * engine-dependent), then the 5×5×5 segment census.
    *
    * Buckets are ascending on each measure (tile 5 = most recent / most
    * frequent / highest spend), matching the oracle's plain
    * `NTILE(5) OVER (ORDER BY measure, key)`.
    *
    * Parity: recency is a DATE max (exact); frequency an integer count;
    * monetary an exact decimal sum converted once to double (same bits
    * both engines, q1 discipline) — so all three sort orders are
    * bit-identical and the bucket assignment is forced.
    *
    * Scale: one map-side-combinable custkey hash agg collapses the fact
    * table to customer-dimension size, then three [[RangedNtile]] passes
    * (each one range shuffle + per-partition rank; driver state is
    * partition-count-sized) — NO single-reducer sort, where the naive
    * three-window form would single-partition the customer table three
    * times. Output bounded at k³ = 125 rows. */
  def q120RfmSegments(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val rfm = o.groupBy("o_custkey")
      .agg(max(to_date(col("o_orderdate"))).as("recency"),
        count(lit(1)).as("freq"),
        sum(dm(col("o_totalprice"))).cast("double").as("monetary"))
    val tiled = Seq(("recency", "r_tile"), ("freq", "f_tile"),
        ("monetary", "m_tile"))
      .foldLeft(rfm) { case (df, (measure, out)) =>
        RangedNtile.withNtile(df, 5,
          Seq(col(measure), col("o_custkey")), out)
      }
    tiled.groupBy("r_tile", "f_tile", "m_tile")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_tile", "f_tile", "m_tile")
  }

  val q120RfmSegmentsSql: String =
    """WITH rfm AS (
      |  SELECT o_custkey,
      |    MAX(CAST(o_orderdate AS DATE)) AS recency,
      |    COUNT(*) AS freq,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DOUBLE) AS monetary
      |  FROM orders GROUP BY o_custkey),
      |t AS (
      |  SELECT
      |    NTILE(5) OVER (ORDER BY recency, o_custkey) AS r_tile,
      |    NTILE(5) OVER (ORDER BY freq, o_custkey) AS f_tile,
      |    NTILE(5) OVER (ORDER BY monetary, o_custkey) AS m_tile
      |  FROM rfm)
      |SELECT r_tile, f_tile, m_tile, COUNT(*) AS n_customers
      |FROM t GROUP BY r_tile, f_tile, m_tile
      |ORDER BY r_tile, f_tile, m_tile""".stripMargin

  /** Incremental aggregate maintenance — the materialized-view refresh
    * shape: the orders fact is aggregated as BASE (before the cutoff)
    * and DELTA (at/after it) in two independent partial passes, then
    * the partials are merged by re-aggregation — sum of counts, sum of
    * sums, min of mins, max of maxes — and the mean is derived from the
    * merged sums only at the end. The oracle is the plain full-table
    * aggregate, so the green hash IS the algebraic proof that the
    * partial states compose losslessly: at 100 TB the base partial is
    * yesterday's persisted state and only the delta partition is
    * scanned at refresh, the same mergeability contract the A5 HLL and
    * L46 count-min rollups exercise for approximate state.
    *
    * Parity: all partials are exact int64 on cents (the q132
    * round-to-cents form); avg divides the merged int64 sum once
    * (int64→double, IEEE-exact) — derived AFTER the merge, since means
    * do not compose but sums and counts do.
    *
    * Scale: two disjoint filtered scans (partition pruning serves each
    * from different files when the sink partitions by date), each with
    * map-side partial aggregation; the merge re-agg runs over
    * 2×|priorities| rows. No window, no join, no driver state. */
  def q136IncrAgg(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderpriority"),
      col("o_orderdate"),
      expr("cast(round(o_totalprice * 100) as bigint)").as("pc"))
    val cutoff = lit("1999-01-01").cast("timestamp")
    def partial(df: DataFrame): DataFrame = df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), sum("pc").as("sum_pc"),
        min("pc").as("min_pc"), max("pc").as("max_pc"))
    val base = partial(o.filter(col("o_orderdate") < cutoff))
    val delta = partial(o.filter(col("o_orderdate") >= cutoff))
    base.unionByName(delta).groupBy("o_orderpriority")
      .agg(sum("cnt").as("n"), sum("sum_pc").as("sum_cents"),
        min("min_pc").as("min_cents"), max("max_pc").as("max_cents"))
      .withColumn("avg_price",
        round(col("sum_cents").cast("double") / col("n") / 100.0, 4))
      .orderBy("o_orderpriority")
  }

  /** Exact weighted median — quantity-weighted median unit price per
    * return flag: the weighted-percentile statistic (each row counts
    * with its weight) that plain `percentile` (A10) cannot express.
    * Lower weighted median: the smallest price whose cumulative weight
    * reaches half the total — an integer-threshold definition
    * (2·cum ≥ tot), no interpolation, no division.
    *
    * Scale: the fact table FIRST collapses to the (flag, distinct
    * price) histogram in a map-side-combinable hash agg; the
    * cumulative-weight window then runs over histogram rows (bounded
    * by distinct cent values), NOT fact rows — the q98 lesson applied
    * to weighted quantiles. Threshold selection is one filtered min.
    *
    * Parity: prices in exact int64 cents, weights exact int64
    * quantities; ROWS cumulative frame over a per-group-unique pc
    * order; the selected value is tie-independent by construction
    * (every row of a price run crosses the threshold at the same pc). */
  def q140WeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("rf"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("pc"),
        col("l_quantity").cast("long").as("q"))
      .groupBy("rf", "pc").agg(sum("q").as("w"))
    val cum = Window.partitionBy("rf").orderBy("pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cum", sum("w").over(cum))
      .withColumn("tot", sum("w").over(Window.partitionBy("rf")))
      .groupBy("rf")
      .agg(max("tot").as("total_qty"),
        min(when(col("cum") * 2 >= col("tot"), col("pc")))
          .as("wmedian_cents"))
      .orderBy("rf")
  }

  /** Exact Gini concentration coefficient of order value per priority
    * — the inequality census (0 = all orders equal, →1 = revenue
    * concentrated in few orders) behind revenue-concentration and
    * vendor-dependency dashboards. Computed EXACTLY from the sorted
    * histogram via the rank-sum identity G = (2·Σk·x_k − (n+1)·T)/(n·T)
    * with Σk·x_k = Σ_v v·(w·cumBefore + w(w+1)/2) over distinct values
    * — every term integer, one double division at the end.
    *
    * Parity: int64 cents; the cumulative window is ordered by the
    * unique distinct value (total order); both engines round the same
    * quotient at 6.
    *
    * Scale: the q140 discipline — the fact table collapses to the
    * (priority, distinct-cents) histogram map-side; windows and sums
    * run over histogram rows. Int64 term budget v·n² holds through
    * ~SF1 per group; DECIMAL(38,0) is the documented swap above. */
  def q150Gini(s: SparkSession, dir: String): DataFrame = {
    val h = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("pr"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("pc"))
      .groupBy("pr", "pc").agg(count(lit(1)).as("w"))
    val cum = Window.partitionBy("pr").orderBy("pc")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    h.withColumn("cb", sum("w").over(cum) - col("w"))
      .withColumn("term",
        col("pc") * (col("w") * col("cb") +
          expr("w * (w + 1) div 2")))
      .groupBy("pr")
      .agg(sum("w").as("n"), sum(col("pc") * col("w")).as("t"),
        sum("term").as("s"))
      .select(col("pr"), col("n"),
        round((lit(2) * col("s") - (col("n") + 1) * col("t"))
          .cast("double") / (col("n") * col("t")).cast("double"), 6)
          .as("gini"))
      .orderBy("pr")
  }

  val q150GiniSql: String =
    """WITH h AS (
      |  SELECT o_orderpriority AS pr,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc,
      |    COUNT(*) AS w
      |  FROM orders GROUP BY 1, 2),
      |c AS (
      |  SELECT pr, pc, w,
      |    SUM(w) OVER (PARTITION BY pr ORDER BY pc
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - w AS cb
      |  FROM h),
      |g AS (
      |  SELECT pr, CAST(SUM(w) AS BIGINT) AS n,
      |    CAST(SUM(pc * w) AS BIGINT) AS t,
      |    CAST(SUM(pc * (w * cb + w * (w + 1) // 2)) AS BIGINT) AS s
      |  FROM c GROUP BY pr)
      |SELECT pr, n,
      |  ROUND(CAST(2 * s - (n + 1) * t AS DOUBLE)
      |    / CAST(n * t AS DOUBLE), 6) AS gini
      |FROM g ORDER BY pr""".stripMargin

  val q140WeightedMedianSql: String =
    """WITH h AS (
      |  SELECT l_returnflag AS rf,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS pc,
      |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (
      |  SELECT rf, pc, w,
      |    SUM(w) OVER (PARTITION BY rf ORDER BY pc
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      AS cum,
      |    SUM(w) OVER (PARTITION BY rf) AS tot
      |  FROM h)
      |SELECT rf, CAST(MAX(tot) AS BIGINT) AS total_qty,
      |  MIN(CASE WHEN 2 * cum >= tot THEN pc END) AS wmedian_cents
      |FROM c GROUP BY rf ORDER BY rf""".stripMargin

  val q136IncrAggSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders)
      |SELECT o_orderpriority, COUNT(*) AS n,
      |  CAST(SUM(pc) AS BIGINT) AS sum_cents,
      |  MIN(pc) AS min_cents, MAX(pc) AS max_cents,
      |  ROUND(CAST(SUM(pc) AS DOUBLE) / COUNT(*) / 100.0, 4) AS avg_price
      |FROM o GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** L128 Herfindahl–Hirschman concentration index — supplier revenue
    * concentration within each nation: HHI = Σ share², the
    * antitrust-standard market-concentration statistic that completes
    * the inequality family (q150 Gini orders the whole distribution,
    * q167 Lorenz cuts deciles; HHI weights LARGE shares quadratically,
    * which is what "is this training-data source mix dominated by one
    * supplier?" actually asks).
    *
    * Parity: per-supplier revenue is an exact decimal SUM (the q2
    * discipline); shares divide two exact-decimal-cast doubles; each
    * share² is quantized to nano-units before the per-nation integer
    * SUM (q185 discipline).
    *
    * Scale: fact-side broadcast joins to the two dims, one keyed agg to
    * |suppliers| rows, a |nation|-partitioned window over those rows
    * (≤ suppliers-per-nation each), and a ≤|nations|-group agg. */
  def q190Hhi(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val sup = broadcast(Tables.supplier(s, dir))
    val nat = broadcast(Tables.nation(s, dir))
    val revenue = dm(col("l_extendedprice")) * (one - df(col("l_discount")))
    val perSup = l.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(nat, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), col("s_suppkey"))
      .agg(sum(revenue).as("rev"))
    val w = Window.partitionBy("n_name")
    val share = col("rev").cast("double") /
      sum(col("rev")).over(w).cast("double")
    perSup
      .select(col("n_name"),
        Parity.quant(share * share, 1e9).as("tq"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_suppliers"),
        (sum("tq").cast("double") / lit(1.0e9)).as("hhi"))
      .orderBy("n_name")
  }

  val q190HhiSql: String =
    s"""WITH r AS (
       |  SELECT n_name, s_suppkey,
       |    SUM(CAST(l_extendedprice AS $DM)
       |        * (CAST(1 AS $DF) - CAST(l_discount AS $DF))) AS rev
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY n_name, s_suppkey),
       |sh AS (
       |  SELECT n_name,
       |    ${Parity.quantSql("(CAST(rev AS DOUBLE)" +
                              " / CAST(SUM(rev) OVER (PARTITION BY n_name) AS DOUBLE))" +
                              " * (CAST(rev AS DOUBLE)" +
                              " / CAST(SUM(rev) OVER (PARTITION BY n_name) AS DOUBLE))", 9)}
       |      AS tq
       |  FROM r)
       |SELECT n_name, COUNT(*) AS n_suppliers,
       |  CAST(SUM(tq) AS DOUBLE) / 1e9 AS hhi
       |FROM sh GROUP BY n_name ORDER BY n_name""".stripMargin

  /** L137 frequent 3-itemsets with lift (Agrawal–Srikant Apriori
    * lineage [PK]) — the depth the pair-level basket analysis (q110)
    * stops short of: triples of brands co-bought in one order, ranked
    * by support, with lift = P(abc)/(P(a)P(b)P(c)) against the
    * independence assumption. Pairwise lift can be high while the
    * triple is pure coincidence (and vice versa — the classic
    * "diapers, beer, chips" case); depth-3 is where bundle structure
    * becomes visible.
    *
    * Parity: all counts exact int64; the triple census explodes ≤C(b,3)
    * combinations per basket map-side from the sorted distinct-brand
    * array (b ≤ brands-per-order, fixture-bounded like q105's pairs);
    * lift = n_abc·N²/(n_a·n_b·n_c) is emitted BOTH as the exact reduced
    * rational (lift_num/lift_den, int64, lowest terms via one gcd —
    * every factor is ≤ N, so num and den are ≤ N³, which fits int64
    * while N ≤ ⌊2⁶³^⅓⌋ ≈ 2.09e6 baskets; past that, switch the
    * reduction to per-factor pairwise gcds or DECIMAL(38) — the
    * REDUCED terms stay small, only this unreduced intermediate grows)
    * AND as the 4dp double both engines compute with one identical
    * chain. The rational is computed after the top-20 cut (decided on
    * exact integers only), so it prices at 20 rows.
    *
    * Scale: one basket agg (the q105 shuffle) whose exchange also
    * feeds the basket count N as a 1-row broadcast cross join — one
    * Spark job, no separate count() action; map-side triple explosion
    * bounded by C(7,3)=35/order, a ≤|brands|³ census that Apriori-style
    * support pruning (HAVING n ≥ 3) keeps tiny, and a broadcast of the
    * |brands|-row singleton census. */
  def q199Itemsets3(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val p = broadcast(Tables.part(s, dir))
    val ob = l.join(p, col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("ok"), col("p_brand").as("b")).distinct()
    val baskets = ob.groupBy("ok")
      .agg(sort_array(collect_set(col("b"))).as("bs"))
      // r19 note: the q207-style explode re-spread was TRIED here and
      // reverted — best-of-2 bench was a wash (the ≤C(7,3) expansion is
      // too small a fraction of this query to pay the extra exchange)
    val nDf = ob.agg(countDistinct(col("ok")).as("n_total"))
    val singles = ob.groupBy(col("b")).agg(count(lit(1)).as("nb"))
    val triples = baskets.select(explode(expr(
      """flatten(transform(bs, (x, i) ->
        |  flatten(transform(slice(bs, i + 2, size(bs) - i - 1), (y, j) ->
        |    transform(slice(bs, i + j + 3, size(bs) - i - j - 2),
        |      z -> struct(x AS a, y AS b, z AS c))))))""".stripMargin))
        .as("t"))
      .select(col("t.a"), col("t.b"), col("t.c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("n_abc"))
      .filter(col("n_abc") >= 3L)
    val top = triples
      .join(broadcast(singles.select(col("b").as("a"), col("nb").as("na"))), "a")
      .join(broadcast(singles.select(col("b").as("b"), col("nb").as("nb"))), "b")
      .join(broadcast(singles.select(col("b").as("c"), col("nb").as("nc"))), "c")
      .crossJoin(broadcast(nDf))
      .select(col("a"), col("b"), col("c"), col("n_abc"),
        col("na"), col("nb"), col("nc"), col("n_total"))
      .orderBy(col("n_abc").desc, col("a"), col("b"), col("c"))
      .limit(20)
    val lift = round(
      col("n_abc").cast("double") * col("n_total").cast("double") *
        col("n_total").cast("double") /
        (col("na").cast("double") * col("nb").cast("double") *
          col("nc").cast("double")), 4)
    top
      .withColumn("num", col("n_abc") * col("n_total") * col("n_total"))
      .withColumn("den", col("na") * col("nb") * col("nc"))
      .withColumn("g", graft.functions.MathFns.gcd(col("num"), col("den")))
      .select(col("a"), col("b"), col("c"), col("n_abc"),
        col("na"), col("nb"), col("nc"),
        expr("num div g").as("lift_num"),
        expr("den div g").as("lift_den"),
        lift.as("lift"))
      .orderBy(col("n_abc").desc, col("a"), col("b"), col("c"))
  }

  val q199Itemsets3Sql: String =
    """WITH ob AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS b
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT COUNT(DISTINCT ok) AS n FROM ob),
      |singles AS (SELECT b, COUNT(*) AS nb FROM ob GROUP BY b),
      |tri AS (
      |  SELECT t1.b AS a, t2.b AS b, t3.b AS c, COUNT(*) AS n_abc
      |  FROM ob t1 JOIN ob t2 ON t1.ok = t2.ok AND t1.b < t2.b
      |  JOIN ob t3 ON t2.ok = t3.ok AND t2.b < t3.b
      |  GROUP BY 1, 2, 3 HAVING COUNT(*) >= 3),
      |top AS (
      |  SELECT tri.a, tri.b, tri.c, n_abc,
      |    sa.nb AS na, sb.nb AS nb, sc.nb AS nc, n.n AS n_total
      |  FROM tri
      |  JOIN singles sa ON sa.b = tri.a
      |  JOIN singles sb ON sb.b = tri.b
      |  JOIN singles sc ON sc.b = tri.c
      |  CROSS JOIN n
      |  ORDER BY n_abc DESC, tri.a, tri.b, tri.c LIMIT 20),
      |red AS (
      |  SELECT a, b, c, n_abc, na, nb, nc, n_total,
      |    n_abc * n_total * n_total AS num, na * nb * nc AS den,
      |    gcd(n_abc * n_total * n_total, na * nb * nc) AS g
      |  FROM top)
      |SELECT a, b, c, n_abc, na, nb, nc,
      |  CAST(num // g AS BIGINT) AS lift_num,
      |  CAST(den // g AS BIGINT) AS lift_den,
      |  ROUND(CAST(n_abc AS DOUBLE) * CAST(n_total AS DOUBLE)
      |      * CAST(n_total AS DOUBLE)
      |    / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
      |       * CAST(nc AS DOUBLE)), 4) AS lift
      |FROM red
      |ORDER BY n_abc DESC, a, b, c""".stripMargin

  /** L216 Hoover index + Palma / 20:20 inequality ratios over the
    * per-customer revenue distribution — the headline-number siblings
    * of q150's Gini and q167's Lorenz table ([PK] Hoover 1936; Palma
    * 2011; Cobham & Sumner 2013). Hoover ("Robin Hood" index) =
    * Σ|xᵢ·n − T| / (2nT): the share of total revenue that would have
    * to move to equalize all customers — the L1 distance to equality,
    * where Gini is the rank-weighted form. Palma = top-decile share /
    * bottom-four-deciles share; 20:20 = top-quintile / bottom-quintile
    * (deciles via [[RangedNtile]] on (revenue desc, custkey) — the
    * exact-NTILE machinery of q98/q167, no single-reducer sort).
    *
    * Parity: cents int64; |xᵢ·n − T| exact DECIMAL per customer (the
    * n/T census rides the q242 in-plan 1-row broadcast — BNLJ
    * allowlisted); each ratio is ONE double division of exact sums,
    * 6dp/4dp. NTILE tie placement is total-ordered by (x desc,
    * custkey), the q98 contract.
    *
    * Scale: per-customer agg → ntile (range-partitioned) → one final
    * agg; the only broadcast is 1 row. Guards: bottom shares of 0
    * (degenerate concentration) → null ratios. */
  def q283Inequality(s: SparkSession, dir: String): DataFrame = {
    val perCust = Tables.orders(s, dir)
      .select(col("o_custkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("pc"))
      .groupBy("o_custkey").agg(sum(col("pc")).as("x"))
    val tot = perCust.agg(count(lit(1)).as("n"),
      sum(col("x").cast(dec)).as("t"))
    val dc = RangedNtile.withNtile(perCust, 10,
      Seq(col("x").desc, col("o_custkey")), "decile")
    val a = dc.crossJoin(broadcast(tot))
      .select(col("x"), col("decile"), col("n"), col("t"))
      .agg(max(col("n")).as("n_customers"), max(col("t")).as("tot"),
        sum(abs(col("x").cast(dec) * col("n").cast(dec) -
          col("t"))).as("sabs"),
        sum(when(col("decile") === 1, col("x").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("top10"),
        sum(when(col("decile") >= 7, col("x").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("bot40"),
        sum(when(col("decile") <= 2, col("x").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("top20"),
        sum(when(col("decile") >= 9, col("x").cast(dec))
          .otherwise(lit(0L).cast(dec))).as("bot20"))
    a.select(col("n_customers"),
      (round(col("tot").cast("double") / 100.0, 2) + 0.0).as("total_rev"),
      (round(col("sabs").cast("double") /
        (lit(2.0) * col("n_customers").cast("double") *
          col("tot").cast("double")), 6) + 0.0).as("hoover"),
      when(col("bot40").cast("double") <= 0.0, lit(null).cast("double"))
        .otherwise(round(col("top10").cast("double") /
          col("bot40").cast("double"), 4) + 0.0).as("palma"),
      when(col("bot20").cast("double") <= 0.0, lit(null).cast("double"))
        .otherwise(round(col("top20").cast("double") /
          col("bot20").cast("double"), 4) + 0.0).as("ratio_2020"))
  }

  val q283InequalitySql: String =
    """WITH u AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS x
      |  FROM orders GROUP BY o_custkey),
      |tt AS (
      |  SELECT COUNT(*) AS n, CAST(SUM(x) AS HUGEINT) AS t FROM u),
      |d AS (
      |  SELECT x, NTILE(10) OVER (ORDER BY x DESC, o_custkey) AS decile
      |  FROM u),
      |a AS (
      |  SELECT MAX(n) AS n_customers, MAX(t) AS tot,
      |    SUM(ABS(CAST(x AS HUGEINT) * n - t)) AS sabs,
      |    SUM(CASE WHEN decile = 1 THEN CAST(x AS HUGEINT) ELSE 0 END)
      |      AS top10,
      |    SUM(CASE WHEN decile >= 7 THEN CAST(x AS HUGEINT) ELSE 0 END)
      |      AS bot40,
      |    SUM(CASE WHEN decile <= 2 THEN CAST(x AS HUGEINT) ELSE 0 END)
      |      AS top20,
      |    SUM(CASE WHEN decile >= 9 THEN CAST(x AS HUGEINT) ELSE 0 END)
      |      AS bot20
      |  FROM d CROSS JOIN tt)
      |SELECT n_customers,
      |  ROUND(CAST(tot AS DOUBLE) / 100.0, 2) + 0 AS total_rev,
      |  ROUND(CAST(sabs AS DOUBLE)
      |    / (2.0 * n_customers * CAST(tot AS DOUBLE)), 6) + 0 AS hoover,
      |  CASE WHEN CAST(bot40 AS DOUBLE) <= 0 THEN NULL
      |    ELSE ROUND(CAST(top10 AS DOUBLE) / CAST(bot40 AS DOUBLE), 4) + 0
      |    END AS palma,
      |  CASE WHEN CAST(bot20 AS DOUBLE) <= 0 THEN NULL
      |    ELSE ROUND(CAST(top20 AS DOUBLE) / CAST(bot20 AS DOUBLE), 4) + 0
      |    END AS ratio_2020
      |FROM a""".stripMargin

  /** L284 Hill tail-index estimator ([PK] Hill 1975): over the k = 200
    * largest whole-dollar order values, α̂ = 1/H with
    * H = (1/k)Σᵢ ln(x₍ᵢ₎/x₍ₖ₊₁₎) — the standard Pareto-tail screen
    * beside q150 Gini / q249 Atkinson / q167 Lorenz (those measure
    * overall concentration; Hill asks "does the TOP decay like a
    * power law, and how fast"). The fixture's bounded order values
    * are decisively NOT heavy-tailed — α̂ lands far above the
    * heavy-tail regime (α < 2 means infinite variance), the honest
    * null a screen must report before anyone trusts a mean.
    *
    * Parity: the top-(k+1) values are an exact TakeOrdered selection
    * (ties at the cut can't change the multiset of VALUES); each
    * ln(xᵢ) leg takes an exact int64 argument and is nano-quantized
    * (q320 convention); H and α̂ one final double chain, 6dp/4dp.
    *
    * Scale: TakeOrderedAndProject (per-partition top-k, k-row merge)
    * — the whole query touches k+1 = 201 rows past the scan. */
  def q350HillTail(s: SparkSession, dir: String): DataFrame = {
    val k = 200
    val top = Tables.orders(s, dir)
      .select(floor(col("o_totalprice") + 0.5).cast("long").as("v"))
      .orderBy(col("v").desc).limit(k + 1)
    val w = Window.orderBy(col("v").desc)
    def ln9(c: Column) =
      Parity.quant(log(c.cast("double")), 1e9)
    val ranked = top.withColumn("rn", row_number().over(w))
    val m = ranked.agg(count(lit(1)).as("n"),
      min(col("v")).as("xref"),
      sum(when(col("rn") <= k, ln9(col("v"))).otherwise(0L)).as("sl9"))
    def f(c: String) = col(c).cast("double")
    val h = (f("sl9") / 1e9 - lit(k.toDouble) *
      (ln9(col("xref")).cast("double") / 1e9)) / k.toDouble
    val bad = col("n") < (k + 1).toLong || col("xref") <= 0L
    m.select(lit(k.toLong).as("k"),
      col("xref").cast("long").as("x_kplus1"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(h, 6)).as("mean_log_excess"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(lit(1.0) / h, 4)).as("hill_alpha"))
  }

  val q350HillTailSql: String =
    s"""WITH top AS (
      |  SELECT CAST(FLOOR(o_totalprice + 0.5) AS BIGINT) AS v
      |  FROM orders ORDER BY v DESC LIMIT 201),
      |r AS (
      |  SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC) AS rn FROM top),
      |m AS (
      |  SELECT COUNT(*) AS n, CAST(MIN(v) AS BIGINT) AS xref,
      |    CAST(SUM(CASE WHEN rn <= 200 THEN
      |      ${Parity.quantSql("LN(CAST(v AS DOUBLE))", 9)}
      |      ELSE 0 END) AS BIGINT) AS sl9
      |  FROM r),
      |fin AS (
      |  SELECT *,
      |    (CAST(sl9 AS DOUBLE) / 1e9 - 200.0
      |      * (CAST(${Parity.quantSql("LN(CAST(xref AS DOUBLE))", 9)}
      |          AS DOUBLE) / 1e9)) / 200.0 AS h
      |  FROM m)
      |SELECT CAST(200 AS BIGINT) AS k, xref AS x_kplus1,
      |  CASE WHEN n < 201 OR xref <= 0 THEN NULL
      |    ELSE ${Parity.fixSql("h", 6)} + 0 END AS mean_log_excess,
      |  CASE WHEN n < 201 OR xref <= 0 THEN NULL
      |    ELSE ${Parity.fixSql("1.0 / h", 4)} + 0 END AS hill_alpha
      |FROM fin""".stripMargin
}
