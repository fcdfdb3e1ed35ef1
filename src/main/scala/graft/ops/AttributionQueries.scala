package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity._

/** Attribution / funnel / experiment operators, split out of
  * EventQueries in round 13 (the file crossed the ~2,000-line review
  * threshold): session entry attribution L85 (q151), Markov transitions
  * L102 (q166), the windowed 3-step funnel L106 (q168), last-touch
  * attribution L107 (q169), the two-proportion z-test L110 (q172),
  * linear multi-touch L111 (q173), time-decay attribution L134 (q196),
  * sequential-pattern support L136 (q198), and CUPED variance reduction
  * L204 (q273) — the "which touchpoint gets credit, and did the
  * experiment move anything" family over the `events` table.
  *
  * Shared construction: per-user ordered walks are single user_id
  * window passes (credit assignment never materializes the touch ×
  * conversion pair space); test statistics collapse to per-arm censuses
  * with exact integer moment sums before one double chain.
  */
object AttributionQueries {

  /** Session entry-point attribution — which event type OPENS sessions,
    * and how often those sessions convert: sessionize by an 8-hour
    * inactivity gap (q59's gaps-and-islands machinery), take each
    * session's first event as its entry, flag sessions containing a
    * purchase, and report conversion per entry type. First-touch
    * attribution at session granularity — the funnel-entry view a
    * growth dashboard leads with.
    *
    * Parity: the session id is an integer running sum of gap flags
    * over the total (ts, event_id) order; entry = first_value over the
    * same order within the session; conversion is an exact max-flag;
    * one division at output.
    *
    * Scale: ONE user_id shuffle serves the lag window, the running
    * sum, the per-session window and the session agg (all share the
    * user_id partitioning; the final ≤|types|-group agg is map-side).
    * No self-joins, no fact-sized windows without keys. */
  def q151EntryAttribution(s: SparkSession, dir: String): DataFrame = {
    val byTs = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val e = Tables.events(s, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byTs))
      .withColumn("is_new",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > 28800000000L,
          1L).otherwise(0L))
      .withColumn("sid", sum("is_new").over(
        byTs.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val bySession = Window.partitionBy("user_id", "sid")
      .orderBy("ts", "event_id")
    val sessions = e
      .withColumn("entry_type", first("event_type").over(bySession))
      .groupBy("user_id", "sid")
      .agg(min("entry_type").as("entry_type"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("converted"))
    sessions.groupBy("entry_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum("converted").as("n_converted"))
      .withColumn("conv_rate",
        round(col("n_converted").cast("double") / col("n_sessions"), 4))
      .orderBy("entry_type")
  }

  val q151EntryAttributionSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 28800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM e),
      |fe AS (
      |  SELECT user_id, sid, event_type,
      |    FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sid
      |      ORDER BY ts, event_id) AS entry_type
      |  FROM s),
      |agg AS (
      |  SELECT user_id, sid, MIN(entry_type) AS entry_type,
      |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      AS converted
      |  FROM fe GROUP BY user_id, sid)
      |SELECT entry_type, COUNT(*) AS n_sessions,
      |  CAST(SUM(converted) AS BIGINT) AS n_converted,
      |  ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 4) AS conv_rate
      |FROM agg GROUP BY entry_type ORDER BY entry_type""".stripMargin

  /** Markov transition matrix between consecutive event types per user
    * — the user-journey model a recommendation / funnel team fits
    * first: P(next = b | current = a) from every adjacent event pair in
    * each user's (ts, event_id)-ordered stream. Session-agnostic by
    * design (the session-scoped variant composes q151's sid first).
    *
    * Parity: pair ordering is the q151 (ts, event_id) total order;
    * counts are exact int64; probabilities are the half-up 4-decimal
    * integer division against the per-prev-type row total. Scale: one
    * user-partition lag window (the §2.5 backbone) then a
    * |types|²-group map-side-combinable count; the row-total join is
    * a broadcast of ≤|types| rows. */
  def q166Transitions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = e
      .withColumn("prev_et", lag(col("event_type"), 1).over(w))
      .filter(col("prev_et").isNotNull)
      .groupBy(col("prev_et"), col("event_type").as("next_et"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("prev_et").agg(sum("n").as("tot"))
    val h = col("n") * 20000L + col("tot")
    val d2 = col("tot") * 2L
    pairs.join(broadcast(totals), "prev_et")
      .select(col("prev_et"), col("next_et"), col("n"),
        (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("p"))
      .orderBy("prev_et", "next_et")
  }

  val q166TransitionsSql: String =
    """WITH pr AS (
      |  SELECT LAG(event_type) OVER (PARTITION BY user_id
      |           ORDER BY ts, event_id) AS prev_et,
      |         event_type AS next_et
      |  FROM events),
      |pairs AS (
      |  SELECT prev_et, next_et, COUNT(*) AS n
      |  FROM pr WHERE prev_et IS NOT NULL GROUP BY prev_et, next_et),
      |tt AS (SELECT prev_et, CAST(SUM(n) AS BIGINT) AS tot
      |       FROM pairs GROUP BY prev_et)
      |SELECT p.prev_et, p.next_et, p.n,
      |  ((p.n * 20000 + t.tot) // (t.tot * 2)) / 10000.0 AS p
      |FROM pairs p JOIN tt t ON p.prev_et = t.prev_et
      |ORDER BY p.prev_et, p.next_et""".stripMargin

  /** Strict-order WINDOWED 3-step funnel (view → click within 6 h →
    * purchase within 6 h of the click): a user reaches stage k only
    * via events in TIME ORDER and inside the per-step conversion
    * window — the MATCH_RECOGNIZE-class ordered-sequence semantic that
    * plain per-type mins get wrong (q60 is the 2-step unwindowed
    * special case). Census output: users reaching each stage + half-up
    * conversion share vs stage 1. Window arithmetic is exact µs
    * integers (`unix_micros`, the q151 discipline).
    *
    * Scale: each stage is one filtered scan joined to the previous
    * stage's USER-keyed aggregate (monotonically shrinking), then a
    * min — hash equi-joins and map-side-combinable aggs throughout;
    * the stage-1 total rides as a driver scalar (q121/q133 discipline)
    * so the census needs no one-row broadcast join. */
  def q168Funnel3(s: SparkSession, dir: String): DataFrame = {
    val winUs = 21600L * 1000000L
    val e = Tables.events(s, dir)
    val t1 = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t1"))
    val t2 = e.filter(col("event_type") === "click")
      .join(t1, "user_id").filter(col("ts") >= col("t1") &&
        expr("unix_micros(ts) - unix_micros(t1)") <= winUs)
      .groupBy("user_id").agg(min("ts").as("t2"))
    val t3 = e.filter(col("event_type") === "purchase")
      .join(t2, "user_id").filter(col("ts") >= col("t2") &&
        expr("unix_micros(ts) - unix_micros(t2)") <= winUs)
      .groupBy("user_id").agg(min("ts").as("t3"))
    val n1 = t1.count()
    def stage(name: String, d: DataFrame) =
      d.agg(count(lit(1)).as("n_users")).select(lit(name).as("stage"),
        col("n_users"))
    val census = stage("1_view", t1)
      .unionByName(stage("2_click", t2))
      .unionByName(stage("3_purchase", t3))
    val h = col("n_users") * 20000L + lit(n1)
    val d2 = lit(n1) * 2L
    census.select(col("stage"), col("n_users"),
        (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("share"))
      .orderBy("stage")
  }

  val q168Funnel3Sql: String =
    """WITH t1 AS (
      |  SELECT user_id, MIN(ts) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |t2 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
      |  JOIN t1 ON e.user_id = t1.user_id AND e.ts >= t1.t1
      |   AND epoch_us(e.ts) - epoch_us(t1.t1) <= 21600000000
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |t3 AS (
      |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
      |  JOIN t2 ON e.user_id = t2.user_id AND e.ts >= t2.t2
      |   AND epoch_us(e.ts) - epoch_us(t2.t2) <= 21600000000
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM t1),
      |census AS (
      |  SELECT '1_view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM t1
      |  UNION ALL SELECT '2_click', CAST(COUNT(*) AS BIGINT) FROM t2
      |  UNION ALL SELECT '3_purchase', CAST(COUNT(*) AS BIGINT) FROM t3)
      |SELECT stage, n_users,
      |  ((n_users * 20000 + n.n1) // (n.n1 * 2)) / 10000.0 AS share
      |FROM census, n ORDER BY stage""".stripMargin

  /** Last-touch marketing attribution through the NATIVE as-of join:
    * each purchase is attributed to the user's latest click at-or-before
    * it within a 6-hour lookback (tolerance), ties among equal-ts clicks
    * to the highest event_id (the q56/q62 rule); revenue then rolls up
    * per campaign (the click's `props.k`), campaign −1 = unattributed
    * (no qualifying click — COALESCE'd so null group ordering can never
    * diverge between engines, the q157 hazard).
    *
    * This is AsofJoinExec's tolerance path under the oracle gate with a
    * downstream aggregate on top — the attribution join IS the ad-tech /
    * conversion-credit workload as-of joins exist for. Scale: the
    * native two-pointer merge runs co-partitioned on user (one
    * exchange+sort per side, one buffered right row per partition);
    * the rollup is a ≤|campaigns|-group map-side-combinable agg. */
  def q169Attribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value").as("revenue"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    graft.plans.AsofJoinOp.asofJoin(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user_id",
        leftTs = "purchase_ts", rightTs = "click_ts", tie = Some("click_id"),
        tolerance = Some(21600L * 1000000L))
      .select(coalesce(col("k"), lit(-1)).as("campaign"), col("revenue"))
      .groupBy("campaign")
      .agg(count(lit(1)).as("n_purchases"),
        dec4(sum(dm(col("revenue")))).as("revenue"))
      .orderBy("campaign")
  }

  val q169AttributionSql: String =
    s"""WITH p AS (
       |  SELECT user_id, event_id, ts, value FROM events
       |  WHERE event_type = 'purchase'),
       |c AS (
       |  SELECT user_id, event_id, ts,
       |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k
       |  FROM events WHERE event_type = 'click'),
       |a AS (
       |  SELECT p.event_id AS pid, p.value, c.k,
       |    ROW_NUMBER() OVER (PARTITION BY p.event_id
       |      ORDER BY c.ts DESC, c.event_id DESC) AS rn
       |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
       |    AND epoch_us(p.ts) - epoch_us(c.ts) <= 21600000000)
       |SELECT COALESCE(k, -1) AS campaign,
       |  COUNT(*) AS n_purchases,
       |  ${out4(s"SUM(CAST(value AS $DM))")} AS revenue
       |FROM a WHERE rn = 1
       |GROUP BY 1 ORDER BY campaign""".stripMargin

  /** L110 two-proportion z-test — the experimentation readout: users
    * deterministically split into variants by `user_id % 2`, conversion
    * = at least one purchase of value ≥ 150 (plain "any purchase" is
    * degenerate on this fixture — every user converts, the pooled
    * variance is 0, and ANSI division-by-zero aborts; the threshold
    * keeps both rates interior at every SF); the pooled-variance z
    * statistic
    * (p̂_a − p̂_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)) decides whether the
    * conversion-rate gap is noise. Complements q133's per-item Wilson
    * bound (a CI on ONE proportion) with the classic A-vs-B TEST.
    *
    * Parity: all counts are exact int64 conditional sums; rates and z
    * are a fixed chain of int64→double IEEE ops, identical on both
    * engines, rounded 6/4dp.
    *
    * Scale: per-user conversion is one map-side-combinable keyed agg;
    * the final global agg exchanges four longs. Nothing grows with the
    * event count. */
  def q172AbZtest(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val perUser = e.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 150.0,
        1L).otherwise(0L)).as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2L)))
    val agg = perUser.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("x_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("x_b"))
    val pa = col("x_a").cast("double") / col("n_a")
    val pb = col("x_b").cast("double") / col("n_b")
    val pp = (col("x_a") + col("x_b")).cast("double") / (col("n_a") + col("n_b"))
    agg.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      round(pa, 6).as("rate_a"), round(pb, 6).as("rate_b"),
      round((pa - pb) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 4).as("z"))
  }

  val q172AbZtestSql: String =
    """WITH u AS (
      |  SELECT user_id, user_id % 2 AS variant,
      |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
      |        THEN 1 ELSE 0 END) AS conv
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |a AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS x_a,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS x_b
      |  FROM u)
      |SELECT n_a, x_a, n_b, x_b,
      |  ROUND(CAST(x_a AS DOUBLE) / n_a, 6) AS rate_a,
      |  ROUND(CAST(x_b AS DOUBLE) / n_b, 6) AS rate_b,
      |  ROUND((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b) /
      |    SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
      |         (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)) *
      |         (CAST(1 AS DOUBLE) / n_a + CAST(1 AS DOUBLE) / n_b)), 4) AS z
      |FROM a""".stripMargin

  /** L111 LINEAR multi-touch attribution — q169's last-touch rule gives
    * the whole conversion to one click; here each purchase's value is
    * split EQUALLY across every click by the same user in the 6-hour
    * lookback, penny-exact: value is first pinned to int64 4dp units
    * (⌊v·10⁴+0.5⌋, the q103 micro-unit discipline), each click gets the
    * integer quotient, and the remainder goes to the EARLIEST clicks
    * (ts, event_id order) — largest-remainder proration (q117's rule),
    * so per-campaign credits sum to exactly the purchase value.
    * Purchases with no qualifying click credit campaign −1 in full.
    *
    * Parity: everything after the 4dp pin is int64 arithmetic — the
    * cross-engine hash is exact by construction, no double sums.
    *
    * Scale: the pair join is user-keyed with a 6-hour band — candidate
    * volume ∝ clicks-per-user-per-6h (bounded by activity rate, not
    * corpus size); the two purchase-partitioned windows (count + rank)
    * ride one shuffle on purchase_id; the rollup is ≤|campaigns|+1
    * groups, map-side combinable. */
  def q173LinearAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
        Parity.quant(col("value"), 1e4).as("v4"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("cid"),
        col("ts").as("cts"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    val pairs = p.join(c,
      col("user_id") === col("c_user") && col("cts") <= col("pts") &&
        unix_micros(col("pts")) - unix_micros(col("cts")) <= 21600L * 1000000L,
      "left")
    val wp = Window.partitionBy(col("pid"))
    val kt = count(col("cid")).over(wp)
    val rn = row_number().over(wp.orderBy(col("cts").asc_nulls_first, col("cid")))
    val credited = pairs
      .withColumn("kt", kt).withColumn("rn", rn)
      .select(
        when(col("kt") === 0, lit(-1)).otherwise(coalesce(col("k"), lit(-1)))
          .as("campaign"),
        col("pid"),
        when(col("kt") === 0, col("v4"))
          .otherwise(expr("v4 div kt") +
            when(col("rn") <= expr("v4 % kt"), 1L).otherwise(0L))
          .as("credit4"))
    credited.groupBy("campaign")
      .agg(countDistinct(col("pid")).as("n_purchases"),
        count(lit(1)).as("n_touches"),
        (sum(col("credit4")) / 10000.0).as("revenue"))
      .orderBy("campaign")
  }

  val q173LinearAttributionSql: String =
    """WITH p AS (
      |  SELECT user_id, event_id AS pid, ts AS pts,
      |    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS v4
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      |c AS (
      |  SELECT user_id, event_id AS cid, ts AS cts,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
      |  FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT p.pid, p.v4, c.cid, c.cts, c.k
      |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts
      |    AND epoch_us(p.pts) - epoch_us(c.cts) <= 21600000000),
      |win AS (
      |  SELECT pid, v4, k,
      |    COUNT(cid) OVER (PARTITION BY pid) AS kt,
      |    ROW_NUMBER() OVER (PARTITION BY pid
      |      ORDER BY cts ASC NULLS FIRST, cid) AS rn
      |  FROM pairs),
      |cr AS (
      |  SELECT CASE WHEN kt = 0 THEN -1 ELSE COALESCE(k, -1) END AS campaign,
      |    pid,
      |    CASE WHEN kt = 0 THEN v4
      |         ELSE v4 // kt + CASE WHEN rn <= v4 % kt THEN 1 ELSE 0 END
      |    END AS credit4
      |  FROM win)
      |SELECT campaign, COUNT(DISTINCT pid) AS n_purchases,
      |  COUNT(*) AS n_touches,
      |  CAST(SUM(credit4) AS BIGINT) / 10000.0 AS revenue
      |FROM cr GROUP BY campaign ORDER BY campaign""".stripMargin

  /** L134 time-decay multi-touch attribution — the third standard
    * credit model, completing the family: q169 last-touch (all credit
    * to the final click), q173 linear (equal split); time-decay weights
    * each click by 2^(−Δt/halflife) (1-hour half-life, 6-hour
    * lookback), the model ad platforms default to because recency
    * predicts influence.
    *
    * Parity: weights are exp of one fixed double chain on exact
    * whole-second int64 ages, then micro-quantized (1e6) to int64 — a
    * coarse enough quantum that the 1-ulp divergence allowed between
    * JVM Math.exp and DuckDB's libm (neither is correctly rounded)
    * cannot flip the quantized weight: a 1-ulp error in exp(x)≤1 is
    * ≤2⁻⁵², or ~2e-16, nine orders of magnitude below the 5e-7
    * half-quantum rounding boundary; per-touch
    * revenue credit is the q117/q173 penny-exact largest-remainder
    * apportionment of the 4dp-scaled purchase value by integer weight —
    * every credit is an exact integer decision, and per-campaign sums
    * are int64 (partition-order independent by construction).
    *
    * Scale: the q173 shape exactly — user-keyed band join (candidates ∝
    * clicks/user/6h), two purchase-keyed windows sharing one exchange,
    * ≤|campaigns|-group rollup. */
  def q196TimeDecayAttribution(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val p = e.filter(col("event_type") === "purchase" && col("value").isNotNull)
      .select(col("user_id"), col("event_id").as("pid"), col("ts").as("pts"),
        Parity.quant(col("value"), 1e4).as("v4"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("cid"),
        col("ts").as("cts"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    val pairs = p.join(c,
      col("user_id") === col("c_user") && col("cts") <= col("pts") &&
        unix_micros(col("pts")) - unix_micros(col("cts")) <= 21600L * 1000000L,
      "left")
    val ageS = expr("(unix_micros(pts) - unix_micros(cts)) div 1000000")
    val wq = Parity.quant(exp(-ageS.cast("double") *
      (lit(0.6931471805599453) / lit(3600.0))), 1e6)
    val wp = Window.partitionBy(col("pid"))
    val withW = pairs.withColumn("wq",
      when(col("cid").isNull, lit(0L)).otherwise(wq))
    val swq = sum(col("wq")).over(wp)
    val base = expr("(v4 * wq) div swq")
    val rem = expr("(v4 * wq) % swq")
    val rn = row_number().over(
      wp.orderBy(col("rem").desc, col("cid").asc_nulls_first))
    val credited = withW.withColumn("swq", swq)
      .withColumn("base", when(col("swq") > 0L, base).otherwise(lit(0L)))
      .withColumn("rem", when(col("swq") > 0L, rem).otherwise(lit(0L)))
      .withColumn("shortfall",
        col("v4") - sum(when(col("swq") > 0L, base).otherwise(lit(0L)))
          .over(wp))
      .withColumn("rn", rn)
      .select(
        when(col("cid").isNull, lit(-1)).otherwise(coalesce(col("k"), lit(-1)))
          .as("campaign"),
        col("pid"),
        when(col("swq") === 0L, col("v4"))
          .otherwise(col("base") +
            when(col("rn") <= col("shortfall"), 1L).otherwise(0L))
          .as("credit4"))
    credited.groupBy("campaign")
      .agg(countDistinct(col("pid")).as("n_purchases"),
        count(lit(1)).as("n_touches"),
        (sum(col("credit4")) / 10000.0).as("revenue"))
      .orderBy("campaign")
  }

  val q196TimeDecayAttributionSql: String =
    s"""WITH p AS (
      |  SELECT user_id, event_id AS pid, ts AS pts,
      |    CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS v4
      |  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL),
      |c AS (
      |  SELECT user_id, event_id AS cid, ts AS cts,
      |    CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k
      |  FROM events WHERE event_type = 'click'),
      |pairs AS (
      |  SELECT p.pid, p.v4, c.cid, c.k,
      |    CASE WHEN c.cid IS NULL THEN 0 ELSE
      |      ${Parity.quantSql("exp(-CAST((epoch_us(p.pts) - epoch_us(c.cts)) // 1000000" +
                               " AS DOUBLE)" +
                               " * (0.6931471805599453 / 3600.0))", 6)}
      |        END AS wq
      |  FROM p LEFT JOIN c ON p.user_id = c.user_id AND c.cts <= p.pts
      |    AND epoch_us(p.pts) - epoch_us(c.cts) <= 21600000000),
      |win AS (
      |  SELECT pid, v4, cid, k, wq,
      |    CAST(SUM(wq) OVER (PARTITION BY pid) AS BIGINT) AS swq,
      |    CASE WHEN CAST(SUM(wq) OVER (PARTITION BY pid) AS BIGINT) > 0
      |      THEN (v4 * wq) // CAST(SUM(wq) OVER (PARTITION BY pid) AS BIGINT)
      |      ELSE 0 END AS base,
      |    CASE WHEN CAST(SUM(wq) OVER (PARTITION BY pid) AS BIGINT) > 0
      |      THEN (v4 * wq) % CAST(SUM(wq) OVER (PARTITION BY pid) AS BIGINT)
      |      ELSE 0 END AS rem
      |  FROM pairs),
      |win2 AS (
      |  SELECT pid, v4, cid, k, swq, base,
      |    v4 - CAST(SUM(base) OVER (PARTITION BY pid) AS BIGINT) AS shortfall,
      |    ROW_NUMBER() OVER (PARTITION BY pid
      |      ORDER BY rem DESC, cid ASC NULLS FIRST) AS rn
      |  FROM win),
      |cr AS (
      |  SELECT CASE WHEN cid IS NULL THEN -1 ELSE COALESCE(k, -1) END AS campaign,
      |    pid,
      |    CASE WHEN swq = 0 THEN v4
      |      ELSE base + CASE WHEN rn <= shortfall THEN 1 ELSE 0 END
      |    END AS credit4
      |  FROM win2)
      |SELECT campaign, COUNT(DISTINCT pid) AS n_purchases,
      |  COUNT(*) AS n_touches,
      |  CAST(SUM(credit4) AS BIGINT) / 10000.0 AS revenue
      |FROM cr GROUP BY campaign ORDER BY campaign""".stripMargin

  /** L136 sequential-pattern support — adjacent event-type TRIGRAMS
    * ranked by USER support (the share of users whose stream contains
    * the pattern at least once): the second-order sequence census that
    * q166's first-order transition matrix cannot express (a→b and b→c
    * being common says nothing about a→b→c; the trigram table is where
    * funnels and scripted-bot signatures actually show). Support
    * counting is per-user EXISTENCE, not occurrence count — the
    * sequence-mining convention, so one hyperactive user can't promote
    * a pattern.
    *
    * Parity: two lag windows over the (user, ts, event_id)-ordered
    * stream (total order), exact distinct-user counts, and support as
    * the q166 half-up integer-division trick — no floating point until
    * the final exact division. Top-20 cut decided on (support_users
    * desc, pattern) — an exact-integer ordering.
    *
    * Scale: one keyed window pass (two lags share the sort), a
    * (user, trigram)-distinct map-side-combinable agg bounded by
    * |users|·|types|³, then a ≤125-row pattern census. */
  def q198SeqPatterns(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val tri = e
      .withColumn("p1", lag(col("event_type"), 2).over(w))
      .withColumn("p2", lag(col("event_type"), 1).over(w))
      .filter(col("p1").isNotNull)
      .select(col("user_id"), concat_ws(">", col("p1"), col("p2"),
        col("event_type")).as("pattern"))
    // fuzz hardening (r12): distinct().count() counted the NULL-user
    // pseudo-group that countDistinct (numerator, both engines) and the
    // mirror's COUNT(DISTINCT user_id) exclude — drop nulls to match
    val users = tri.select("user_id").na.drop().distinct().count()
    tri.groupBy("pattern")
      .agg(countDistinct(col("user_id")).as("support_users"),
        count(lit(1)).as("n_occurrences"))
      .select(col("pattern"), col("support_users"), col("n_occurrences"),
        (((col("support_users") * 20000L + lit(users)) -
          pmod(col("support_users") * 20000L + lit(users), lit(users * 2L))) /
          lit(users * 2L)).cast("long").cast("double")./(10000.0)
          .as("support"))
      .orderBy(col("support_users").desc, col("pattern"))
      .limit(20)
  }

  val q198SeqPatternsSql: String =
    """WITH tri AS (
      |  SELECT user_id,
      |    LAG(event_type, 2) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS p1,
      |    LAG(event_type, 1) OVER (PARTITION BY user_id
      |      ORDER BY ts, event_id) AS p2,
      |    event_type AS p3
      |  FROM events),
      |pat AS (
      |  SELECT user_id, p1 || '>' || p2 || '>' || p3 AS pattern
      |  FROM tri WHERE p1 IS NOT NULL),
      |u AS (SELECT COUNT(DISTINCT user_id) AS users FROM pat),
      |c AS (
      |  SELECT pattern, COUNT(DISTINCT user_id) AS support_users,
      |    COUNT(*) AS n_occurrences
      |  FROM pat GROUP BY pattern)
      |SELECT pattern, support_users, n_occurrences,
      |  CAST(((support_users * 20000 + u.users)
      |    - (support_users * 20000 + u.users) % (u.users * 2))
      |    // (u.users * 2) AS BIGINT) / 10000.0 AS support
      |FROM c CROSS JOIN u
      |ORDER BY support_users DESC, pattern LIMIT 20""".stripMargin

  /** L204 CUPED variance reduction (Deng, Xu, Kohavi & Walker 2013
    * [PK]): the standard A/B readout accelerator — per user, outcome
    * Y = spend in the experiment window (last 14 days of the corpus)
    * and covariate X = spend in the pre-window before it;
    * θ = cov(X,Y)/var(X) pooled, and Ŷ_cuped = Y − θ(X − X̄) keeps each
    * arm's mean unbiased while removing the pre-period component of
    * the variance (fraction removed = ρ²). Arms = user_id parity (the
    * q224 assignment). Without CUPED the q172-style z-test needs
    * 1/(1−ρ²)× the traffic for the same power.
    *
    * Parity: spend quantizes to cents int64 per event; all moment sums
    * (Σx, Σy, Σxy, Σx², Σy²) are exact DECIMAL/HUGEINT; θ/ρ²/means one
    * double chain; the window split rides the in-plan 1-row bounds
    * broadcast (q242 form — no build-time driver action).
    *
    * Scale: one per-user agg, one 1-row pooled-moment agg, one ≤2-row
    * arm agg. Guards: var(X) = 0 → θ undefined → null CUPED columns,
    * raw means survive. */
  def q273Cuped(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val bounds = e.agg(max(unix_micros(col("ts"))).as("end_us"))
    val cut = col("end_us") - 14L * 86400L * 1000000L
    val peru = e.crossJoin(broadcast(bounds))
      .select(col("user_id"),
        when(unix_micros(col("ts")) >= cut,
          Parity.quant(col("value"), 100.0)).as("yv"),
        when(unix_micros(col("ts")) < cut,
          Parity.quant(col("value"), 100.0)).as("xv"))
      .groupBy("user_id")
      .agg(coalesce(sum(col("yv")), lit(0L)).as("y"),
        coalesce(sum(col("xv")), lit(0L)).as("x"))
      .withColumn("arm", pmod(col("user_id"), lit(2L)))
      .localCheckpoint(eager = false)
    val mom = peru.agg(count(lit(1)).as("nu"), SeriesStats.pairSums: _*)
    val nD = col("nu").cast("double")
    val vx = col("sxx").cast("double") -
      col("sx").cast("double") * (col("sx").cast("double") / nD)
    val vy = col("syy").cast("double") -
      col("sy").cast("double") * (col("sy").cast("double") / nD)
    val cxy = col("sxy").cast("double") -
      col("sx").cast("double") * (col("sy").cast("double") / nD)
    val theta = cxy / vx
    val rho2 = cxy * cxy / (vx * vy)
    val xbar = col("sx").cast("double") / nD
    val bad = col("nu") < 2 || vx <= 0.0 || vy <= 0.0
    val arm = peru.groupBy("arm")
      .agg(count(lit(1)).as("n_users"), sum(col("y").cast(dec)).as("asy"),
        sum(col("x").cast(dec)).as("asx"))
    arm.crossJoin(broadcast(mom))
      .select(col("arm"), col("n_users"),
        (round(col("asy").cast("double") / col("n_users") / 100.0, 4)
          + 0.0).as("mean_y"),
        when(bad, lit(null).cast("double"))
          .otherwise(round((col("asy").cast("double") / col("n_users") -
            theta * (col("asx").cast("double") / col("n_users") - xbar))
            / 100.0, 4) + 0.0).as("mean_y_cuped"),
        when(bad, lit(null).cast("double"))
          .otherwise(round(theta, 6) + 0.0).as("theta"),
        when(bad, lit(null).cast("double"))
          .otherwise(round(rho2, 6) + 0.0).as("var_reduction"))
      .orderBy("arm")
  }

  val q273CupedSql: String = {
    val vx = "(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * (CAST(sx AS DOUBLE) / CAST(nu AS DOUBLE)))"
    val vy = "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)" +
      " * (CAST(sy AS DOUBLE) / CAST(nu AS DOUBLE)))"
    val cxy = "(CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)" +
      " * (CAST(sy AS DOUBLE) / CAST(nu AS DOUBLE)))"
    val theta = s"($cxy / $vx)"
    val bad = s"(nu < 2 OR $vx <= 0.0 OR $vy <= 0.0)"
    s"""WITH e AS (
       |  SELECT user_id, ts,
       |    CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS vc
       |  FROM events WHERE user_id IS NOT NULL),
       |b AS (SELECT MAX(epoch_us(ts)) - CAST(14 AS BIGINT) * 86400 * 1000000
       |        AS cut
       |      FROM e),
       |peru AS (
       |  SELECT user_id,
       |    COALESCE(SUM(CASE WHEN epoch_us(ts) >= (SELECT cut FROM b)
       |      THEN vc END), 0) AS y,
       |    COALESCE(SUM(CASE WHEN epoch_us(ts) < (SELECT cut FROM b)
       |      THEN vc END), 0) AS x,
       |    user_id % 2 AS arm
       |  FROM e GROUP BY user_id),
       |mom AS (
       |  SELECT COUNT(*) AS nu,
       |    SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
       |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
       |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
       |    SUM(CAST(y AS HUGEINT) * y) AS syy
       |  FROM peru),
       |arm AS (
       |  SELECT arm, COUNT(*) AS n_users,
       |    SUM(CAST(y AS HUGEINT)) AS asy, SUM(CAST(x AS HUGEINT)) AS asx
       |  FROM peru GROUP BY arm)
       |SELECT arm, n_users,
       |  ROUND(CAST(asy AS DOUBLE) / n_users / 100.0, 4) + 0 AS mean_y,
       |  CASE WHEN $bad THEN NULL ELSE
       |    ROUND((CAST(asy AS DOUBLE) / n_users
       |      - $theta * (CAST(asx AS DOUBLE) / n_users
       |        - CAST(sx AS DOUBLE) / CAST(nu AS DOUBLE))) / 100.0, 4) + 0
       |    END AS mean_y_cuped,
       |  CASE WHEN $bad THEN NULL ELSE ROUND($theta, 6) + 0 END AS theta,
       |  CASE WHEN $bad THEN NULL ELSE
       |    ROUND($cxy * $cxy / ($vx * $vy), 6) + 0 END AS var_reduction
       |FROM arm, mom ORDER BY arm""".stripMargin
  }

  /** L248 SPRT sequential monitor ([PK] Wald 1945; the always-valid
    * monitoring idea behind modern "peeking-safe" A/B platforms):
    * the day-by-day log-likelihood-ratio walk of the TEST arm's
    * purchase rate against H₀: p = p₀ (the control arm's full-period
    * rate) vs H₁: p = 1.1·p₀, with Wald boundaries ±ln 19
    * (α = β = 0.05). The output is the whole decision WALK — cum
    * conversions, trials, LLR, and per-day state — so the "when could
    * we have stopped" question is answerable from the table. The
    * fixture's arms carry a REAL deterministic imbalance (user-parity
    * correlates with behaviour: test-arm purchase rate ≈ 1.09× the
    * control's at both SFs), so the monitor behaves exactly as a
    * correct SPRT should: with sf0.01's 5k trials it crosses the
    * reject boundary (detects the ≈10% lift), while sf0.001's 438
    * trials are insufficient inside 30 days and the walk stays in the
    * continue band — BOTH regimes pinned as measured.
    *
    * Parity: LLR_t = C_t·(ln9(11) − ln9(10)) + (N_t−C_t)·(ln9(10·n₀ −
    * 11·c₀) − ln9(10·(n₀−c₀))) — every ln takes an exact integer
    * (rates never materialize as doubles), nano-quantized (q286
    * convention); cumulative C/N ride [[PrefixSum]]. Boundaries are
    * the quantized ±ln9(19).
    *
    * Scale: daily census per arm (calendar-bounded) + a 1-row
    * control-totals broadcast; the walk is |days| rows. Guards: c₀=0,
    * c₀≥n₀·10/11 (p₁ ≥ 1), or empty test arm → no rows decided. */
  def q314SprtMonitor(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        to_date(col("ts")).as("day"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("conv"))
    val ctrl = e.filter(col("arm") === 0L)
      .agg(sum(col("conv")).as("c0"), count(lit(1)).as("n0"))
    val daily = e.filter(col("arm") === 1L)
      .groupBy("day")
      .agg(sum(col("conv")).as("cd"), count(lit(1)).as("nd"))
    val cum = graft.ops.PrefixSum.withPrefixSums(daily,
      Seq(col("day")), Seq((col("cd"), "ct"), (col("nd"), "nt")))
    def qln9(c: Column) = Parity.quant(log(c.cast("double")), 1e9)
    val j = cum.crossJoin(broadcast(ctrl))
      .withColumn("lp9", qln9(lit(11L)) - qln9(lit(10L)))
      .withColumn("lq9",
        qln9(col("n0") * 10L - col("c0") * 11L) -
          qln9((col("n0") - col("c0")) * 10L))
      .withColumn("llr9", col("ct").cast(dec) * col("lp9") +
        (col("nt") - col("ct")).cast(dec) * col("lq9"))
    val a9 = Parity.quant(log(lit(19.0)), 1e9).cast(dec)
    val bad = col("c0") === 0L || col("c0") * 11L >= col("n0") * 10L ||
      col("n0") === 0L
    j.select(col("day"), col("ct").as("cum_conv"),
        col("nt").as("cum_trials"),
        when(bad, lit(null).cast("double"))
          .otherwise(Parity.fix(col("llr9").cast("double") / 1e9, 6)).as("llr"),
        when(bad, lit(null).cast("string"))
          .otherwise(when(col("llr9") >= a9, "reject_h0")
            .when(col("llr9") <= -a9, "accept_h0")
            .otherwise("continue")).as("state"))
      .orderBy("day")
  }

  /** L252 Newcombe–Wilson difference CI ([PK] Wilson 1927; Newcombe
    * 1998 method 10, the "MOVER" square-and-add): the fixed-horizon
    * 95% interval for the arm purchase-rate difference, from two
    * Wilson score intervals — the small-sample-honest companion of
    * q172's Wald z and the cross-check of q314's sequential verdict:
    * at sf0.01 the CI EXCLUDES zero exactly where the SPRT crossed
    * its reject boundary, and at sf0.001 it INCLUDES zero exactly
    * where the SPRT stayed in the continue band — two independent
    * constructions agreeing at both SFs, pinned.
    *
    * Parity: per-arm (c, n) exact ints; the Wilson bounds and the
    * MOVER combination are ONE deterministic double chain (z = 1.96
    * literal), floor-quantized 6dp. Scale: one 2-group map-side agg. */
  def q318NewcombeCi(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
      .select(pmod(col("user_id"), lit(2L)).as("arm"),
        when(col("event_type") === "purchase", 1L).otherwise(0L)
          .as("conv"))
    val g = e.groupBy("arm").agg(count(lit(1)).as("n"),
      sum(col("conv")).as("c"))
    val piv = g.agg(
      max(when(col("arm") === 0L, col("n"))).as("n0"),
      max(when(col("arm") === 0L, col("c"))).as("c0"),
      max(when(col("arm") === 1L, col("n"))).as("n1"),
      max(when(col("arm") === 1L, col("c"))).as("c1"))
    val z = lit(1.96)
    def wilson(c: String, n: String): (Column, Column, Column) = {
      val nf = col(n).cast("double"); val p = col(c).cast("double") / nf
      val z2 = z * z
      val center = (p + z2 / (nf * 2.0)) / (lit(1.0) + z2 / nf)
      val half = z * sqrt(p * (lit(1.0) - p) / nf +
        z2 / (nf * nf * 4.0)) / (lit(1.0) + z2 / nf)
      (p, center - half, center + half)
    }
    val (p0, l0, u0) = wilson("c0", "n0")
    val (p1, l1, u1) = wilson("c1", "n1")
    val d = p1 - p0
    val lo = d - sqrt((p1 - l1) * (p1 - l1) + (u0 - p0) * (u0 - p0))
    val hi = d + sqrt((u1 - p1) * (u1 - p1) + (p0 - l0) * (p0 - l0))
    val bad = col("n0") < 1L || col("n1") < 1L
    def out(c: Column, nm: String) =
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(c, 6)).as(nm)
    piv.select(col("n0").cast("long").as("n_ctrl"),
      col("c0").cast("long").as("conv_ctrl"),
      col("n1").cast("long").as("n_test"),
      col("c1").cast("long").as("conv_test"),
      out(d, "rate_diff"), out(lo, "ci_lo"), out(hi, "ci_hi"),
      when(bad, lit(null).cast("long"))
        .otherwise(when(lo > 0.0 || hi < 0.0, 1L).otherwise(0L))
        .as("excludes_zero"))
  }

  val q318NewcombeCiSql: String =
    s"""WITH e AS (
      |  SELECT ((user_id % 2) + 2) % 2 AS arm,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      |  FROM events WHERE user_id IS NOT NULL),
      |g AS (SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
      |  FROM e GROUP BY arm),
      |piv AS (
      |  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n0,
      |    MAX(CASE WHEN arm = 0 THEN c END) AS c0,
      |    MAX(CASE WHEN arm = 1 THEN n END) AS n1,
      |    MAX(CASE WHEN arm = 1 THEN c END) AS c1
      |  FROM g),
      |w AS (
      |  SELECT *,
      |    CAST(c0 AS DOUBLE) / n0 AS p0, CAST(c1 AS DOUBLE) / n1 AS p1,
      |    (CAST(c0 AS DOUBLE) / n0 + 1.96 * 1.96 / (CAST(n0 AS DOUBLE)
      |      * 2.0)) / (1.0 + 1.96 * 1.96 / CAST(n0 AS DOUBLE)) AS ce0,
      |    1.96 * SQRT(CAST(c0 AS DOUBLE) / n0
      |        * (1.0 - CAST(c0 AS DOUBLE) / n0) / CAST(n0 AS DOUBLE)
      |      + 1.96 * 1.96 / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
      |        * 4.0)) / (1.0 + 1.96 * 1.96 / CAST(n0 AS DOUBLE)) AS hw0,
      |    (CAST(c1 AS DOUBLE) / n1 + 1.96 * 1.96 / (CAST(n1 AS DOUBLE)
      |      * 2.0)) / (1.0 + 1.96 * 1.96 / CAST(n1 AS DOUBLE)) AS ce1,
      |    1.96 * SQRT(CAST(c1 AS DOUBLE) / n1
      |        * (1.0 - CAST(c1 AS DOUBLE) / n1) / CAST(n1 AS DOUBLE)
      |      + 1.96 * 1.96 / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
      |        * 4.0)) / (1.0 + 1.96 * 1.96 / CAST(n1 AS DOUBLE)) AS hw1
      |  FROM piv),
      |b AS (
      |  SELECT *, p1 - p0 AS d,
      |    ce0 - hw0 AS l0, ce0 + hw0 AS u0,
      |    ce1 - hw1 AS l1, ce1 + hw1 AS u1,
      |    (n0 < 1 OR n1 < 1) AS bad
      |  FROM w),
      |f AS (
      |  SELECT *,
      |    d - SQRT((p1 - l1) * (p1 - l1) + (u0 - p0) * (u0 - p0)) AS lo,
      |    d + SQRT((u1 - p1) * (u1 - p1) + (p0 - l0) * (p0 - l0)) AS hi
      |  FROM b)
      |SELECT n0 AS n_ctrl, c0 AS conv_ctrl, n1 AS n_test, c1 AS conv_test,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("d", 6)} END AS rate_diff,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("lo", 6)} END AS ci_lo,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("hi", 6)} END AS ci_hi,
      |  CASE WHEN bad THEN NULL
      |    WHEN lo > 0 OR hi < 0 THEN 1 ELSE 0 END AS excludes_zero
      |FROM f""".stripMargin

  val q314SprtMonitorSql: String =
    s"""WITH e AS (
      |  SELECT ((user_id % 2) + 2) % 2 AS arm, CAST(ts AS DATE) AS day,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
      |  FROM events WHERE user_id IS NOT NULL),
      |ctrl AS (
      |  SELECT CAST(SUM(conv) AS BIGINT) AS c0, COUNT(*) AS n0
      |  FROM e WHERE arm = 0),
      |daily AS (
      |  SELECT day, CAST(SUM(conv) AS BIGINT) AS cd, COUNT(*) AS nd
      |  FROM e WHERE arm = 1 GROUP BY day),
      |cum AS (
      |  SELECT day,
      |    CAST(SUM(cd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS ct,
      |    CAST(SUM(nd) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
      |      AS BIGINT) AS nt
      |  FROM daily),
      |j AS (
      |  SELECT day, ct, nt, c0, n0,
      |    ${Parity.quantSql("LN(11.0)", 9)}
      |      - ${Parity.quantSql("LN(10.0)", 9)} AS lp9,
      |    ${Parity.quantSql("LN(CAST(n0 * 10 - c0 * 11 AS DOUBLE))", 9)}
      |      - ${Parity.quantSql("LN(CAST((n0 - c0) * 10 AS DOUBLE))", 9)} AS lq9
      |  FROM cum CROSS JOIN ctrl),
      |w AS (
      |  SELECT day, ct, nt, c0, n0,
      |    CAST(ct AS HUGEINT) * lp9 + CAST(nt - ct AS HUGEINT) * lq9
      |      AS llr9,
      |    ${Parity.quantSql("LN(19.0)", 9)} AS a9,
      |    (c0 = 0 OR c0 * 11 >= n0 * 10 OR n0 = 0) AS bad
      |  FROM j)
      |SELECT day, ct AS cum_conv, nt AS cum_trials,
      |  CASE WHEN bad THEN NULL
      |    ELSE ${Parity.fixSql("CAST(llr9 AS DOUBLE) / 1e9", 6)} END
      |    AS llr,
      |  CASE WHEN bad THEN NULL
      |    WHEN llr9 >= a9 THEN 'reject_h0'
      |    WHEN llr9 <= -a9 THEN 'accept_h0'
      |    ELSE 'continue' END AS state
      |FROM w ORDER BY day""".stripMargin

  /** L334 Cohen's h for two proportions *(added r17; [PK] Cohen
    * 1988 §6)* — the EFFECT SIZE q172's z-test should always be
    * reported with (the q210/q247 pairing discipline): h = 2·asin√p₁
    * − 2·asin√p₂ on the same A/B conversion frame, with Cohen's
    * small/medium/large ladder (0.2/0.5/0.8). The arcsine transform
    * makes h comparable ACROSS base rates — the property a raw rate
    * difference lacks — and unlike z it does not grow with n: the
    * honest null here is |h| < 0.2 at every SF (asserted) even where
    * a large-n z might drift.
    *
    * Parity: conversion counts are exact int64; h is one identical
    * double chain whose two asin calls are TERMINAL on exact integer
    * ratios (the q354 exemption — never accumulated), 6dp.
    *
    * Scale: the q172 frame — one per-user agg, one 1-row pivot;
    * 1-row output. */
  def q399CohensH(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val perUser = e.groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") >= 150.0,
        1L).otherwise(0L)).as("conv"))
      .withColumn("variant", pmod(col("user_id"), lit(2L)))
    val agg = perUser.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("x_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("x_b"))
    def d(c: String) = col(c).cast("double")
    val pa = d("x_a") / greatest(d("n_a"), lit(1e-300))
    val pb = d("x_b") / greatest(d("n_b"), lit(1e-300))
    val h = lit(2.0) * asin(sqrt(pa)) - lit(2.0) * asin(sqrt(pb))
    val habs = abs(Parity.fix(h, 6))
    agg.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
      Parity.fix(pa, 6).as("rate_a"), Parity.fix(pb, 6).as("rate_b"),
      Parity.fix(h, 6).as("cohens_h"),
      when(habs < 0.2, lit("negligible")).when(habs < 0.5, lit("small"))
        .when(habs < 0.8, lit("medium")).otherwise(lit("large"))
        .as("magnitude"))
  }

  val q399CohensHSql: String =
    s"""WITH u AS (
      |  SELECT user_id,
      |    MAX(CASE WHEN event_type = 'purchase' AND value >= 150.0
      |      THEN 1 ELSE 0 END) AS conv,
      |    user_id % 2 AS variant
      |  FROM events WHERE user_id IS NOT NULL
      |  GROUP BY user_id),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_a,
      |    CAST(SUM(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT)
      |      AS x_a,
      |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_b,
      |    CAST(SUM(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT)
      |      AS x_b
      |  FROM u),
      |f AS (
      |  SELECT n_a, x_a, n_b, x_b,
      |    CAST(x_a AS DOUBLE) / GREATEST(CAST(n_a AS DOUBLE), 1e-300)
      |      AS pa,
      |    CAST(x_b AS DOUBLE) / GREATEST(CAST(n_b AS DOUBLE), 1e-300)
      |      AS pb
      |  FROM g),
      |z AS (
      |  SELECT n_a, x_a, n_b, x_b, pa, pb,
      |    ${Parity.fixSql("(2.0 * asin(sqrt(pa)) - 2.0 * asin(sqrt(pb)))", 6)} + 0 AS h
      |  FROM f)
      |SELECT n_a, x_a, n_b, x_b,
      |  ${Parity.fixSql("pa", 6)} + 0 AS rate_a,
      |  ${Parity.fixSql("pb", 6)} + 0 AS rate_b,
      |  h AS cohens_h,
      |  CASE WHEN ABS(h) < 0.2 THEN 'negligible'
      |    WHEN ABS(h) < 0.5 THEN 'small'
      |    WHEN ABS(h) < 0.8 THEN 'medium'
      |    ELSE 'large' END AS magnitude
      |FROM z""".stripMargin
}
