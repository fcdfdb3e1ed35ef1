package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity._

/** Event-time operators: as-of join J8, tumbling/sliding/session windows
  * T1–T3, and the T6 conversion funnel (SURVEY.md §2.3, §2.9) — batch
  * forms over the `events` table; streaming variants live in ScalaTest
  * (`MemoryStream`) per §5.
  *
  * Scale notes: the as-of join uses the union + carry-forward rewrite —
  * ONE shuffle on user_id and no candidate-pair blowup (a join-based
  * as-of materializes every (purchase, earlier view) pair before ranking;
  * this form is linear in events per user). Session windows use
  * gaps-and-islands, also a single user_id shuffle. All window buckets
  * group by derived columns — plain hash aggregation, partial+final.
  */
object EventQueries {

  /** J8 as-of join: for each purchase, the latest view by the same user
    * at-or-before the purchase (ties: view before purchase at equal ts;
    * among equal-ts views the highest event_id wins — deterministic).
    * Implemented as union + running `last(struct, ignoreNulls)` so the
    * whole op is one shuffle; the oracle uses the equivalent
    * join + ROW_NUMBER form (same semantics, DuckDB-friendly). */
  def q56AsofViewPurchase(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "purchase"))
      // fuzz hardening (r12): drop anonymous events — the window's NULL
      // partition would attribute views across unrelated null-user rows
      // (and the mirror's NULL-rejecting equi-join disagrees)
      .filter(col("user_id").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === "view", 0).otherwise(1).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = last(
      when(col("tag") === 0, struct(col("ts").as("v_ts"), col("event_id").as("v_id"))),
      ignoreNulls = true).over(w)
    e.withColumn("last_view", carried)
      .filter(col("tag") === 1)
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"),
        col("last_view.v_id").as("view_id"),
        col("last_view.v_ts").as("view_ts"))
      .orderBy("user_id", "purchase_id")
  }

  val q56AsofViewPurchaseSql: String =
    """WITH p AS (SELECT user_id, event_id, ts FROM events
      |          WHERE event_type = 'purchase' AND user_id IS NOT NULL),
      |     v AS (SELECT user_id, event_id, ts FROM events
      |          WHERE event_type = 'view' AND user_id IS NOT NULL)
      |SELECT user_id, purchase_id, purchase_ts, view_id, view_ts FROM (
      |  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |    v.event_id AS view_id, v.ts AS view_ts,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
      |WHERE rn = 1
      |ORDER BY user_id, purchase_id""".stripMargin

  /** J8 via the native merge operator (plans.AsofJoin*): same semantics
    * and oracle as q56, but planned as AsofJoinExec — a custom
    * LogicalPlan + Strategy + physical two-pointer merge registered
    * through the session's extension hooks. Keeping both forms under the
    * t2 gate pins the rewrite and the native operator to each other. */
  def q62AsofNative(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    graft.plans.AsofJoinOp.asofJoin(purchases, views,
        leftKey = "user_id", rightKey = "v_user_id",
        leftTs = "purchase_ts", rightTs = "view_ts", tie = Some("view_id"))
      .select("user_id", "purchase_id", "purchase_ts", "view_id", "view_ts")
      .orderBy("user_id", "purchase_id")
  }

  /** q62's own mirror (r12): q56 now drops anonymous events because its
    * window-based rewrite pools NULL users into one pseudo-partition;
    * the NATIVE as-of op follows SQL join semantics (NULL keys match
    * nothing → purchase kept, view columns null), so its mirror keeps
    * them — the fuzz gate pins that the custom operator treats NULL
    * keys exactly like the equi-join it replaces. */
  val q62AsofNativeSql: String =
    """WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
      |SELECT user_id, purchase_id, purchase_ts, view_id, view_ts FROM (
      |  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |    v.event_id AS view_id, v.ts AS view_ts,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) AS rn
      |  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts)
      |WHERE rn = 1
      |ORDER BY user_id, purchase_id""".stripMargin

  /** T1 tumbling window: hourly event counts + value sums per type.
    * Spark `window()` aligns 1-hour buckets to epoch hours, i.e. exactly
    * `date_trunc('hour', ts)`. */
  def q57Tumbling(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        dec4(sum(dm(col("value")))).as("sum_value"))
      .select(col("window.start").as("bucket_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("bucket_start", "event_type")
  }

  val q57TumblingSql: String =
    s"""SELECT date_trunc('hour', ts) AS bucket_start, event_type,
       |  COUNT(*) AS n, ${out4(s"SUM(CAST(value AS $DM))")} AS sum_value
       |FROM events
       |GROUP BY 1, 2
       |ORDER BY bucket_start, event_type""".stripMargin

  /** T2 sliding window: 1-hour windows sliding every 15 minutes. Each
    * event lands in 4 buckets; the oracle mirrors Spark's expansion
    * explicitly (bucket k = 15-min bucket minus k*15min, k=0..3). */
  def q58Sliding(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.groupBy(window(col("ts"), "1 hour", "15 minutes"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .select(col("window.start").as("bucket_start"), col("n"), col("n_users"))
      .orderBy("bucket_start")
  }

  val q58SlidingSql: String =
    """SELECT bucket_start, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts) - to_minutes(15 * k) AS bucket_start,
      |             user_id
      |      FROM events CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS k))
      |GROUP BY 1
      |ORDER BY bucket_start""".stripMargin

  /** T3 session windows (30-minute gap) via gaps-and-islands: one
    * user_id shuffle, no session_window operator needed in batch. */
  def q59Sessions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val newSession = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1).otherwise(0)
    e.withColumn("new_s", newSession)
      .withColumn("session_id",
        sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  val q59SessionsSql: String =
    """SELECT user_id, session_id, MIN(ts) AS session_start,
      |  MAX(ts) AS session_end, COUNT(*) AS n_events
      |FROM (
      |  SELECT user_id, ts,
      |    -- CAST AS BIGINT: DuckDB windowed integer SUM widens to
      |    -- HUGEINT → pandas float64, vs Spark's int64
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id,
      |      CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id)
      |           IS NOT DISTINCT FROM NULL THEN 1
      |           WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000 THEN 1
      |           ELSE 0 END AS new_s
      |    FROM events))
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** T6 funnel: first signup per user, first purchase at-or-after it,
    * conversion latency in whole seconds (exact µs integer floor). */
  def q60Funnel(s: SparkSession, dir: String): DataFrame = {
    // fuzz hardening (r12): drop anonymous events (q56 rationale)
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val w = Window.partitionBy(col("user_id"))
    val firstSignup = min(when(col("event_type") === "signup", col("ts"))).over(w)
    e.withColumn("signup_ts", firstSignup)
      .groupBy(col("user_id"))
      .agg(min(when(col("event_type") === "signup", col("ts"))).as("signup_ts"),
        min(when(col("event_type") === "purchase" && col("ts") >= col("signup_ts"),
          col("ts"))).as("conv_ts"))
      .withColumn("conv_sec",
        expr("(unix_micros(conv_ts) - unix_micros(signup_ts)) div 1000000"))
      .orderBy("user_id")
  }

  val q60FunnelSql: String =
    """WITH f AS (
      |  SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id)
      |SELECT user_id, signup_ts, conv_ts,
      |  (epoch_us(conv_ts) - epoch_us(signup_ts)) // 1000000 AS conv_sec
      |FROM (
      |  SELECT f.user_id, f.signup_ts, MIN(e.ts) AS conv_ts
      |  FROM f LEFT JOIN events e
      |    ON e.user_id = f.user_id AND e.event_type = 'purchase'
      |   AND e.ts >= f.signup_ts
      |  GROUP BY f.user_id, f.signup_ts)
      |ORDER BY user_id""".stripMargin

  /** Sweep-line interval algebra: peak concurrency per event type when
    * each event occupies [ts, ts+10min) — the "max simultaneous
    * sessions / resource utilization" shape that windowed aggregation
    * cannot express (concurrency changes at BOUNDARIES, not fixed
    * buckets). Boundary explode (+1 at start, −1 at end) → keyed
    * running sum → max, with −1 sorted before +1 at equal timestamps
    * so half-open intervals never double-count a touch.
    *
    * Determinism under ties: rows with identical (bt, delta) are
    * interchangeable — the running-sum value MULTISET (and therefore
    * the per-type max and the first boundary timestamp reaching it) is
    * identical for every tie permutation in both engines.
    *
    * Scale: one shuffle on event_type for the running-sum window (2
    * rows per event), one map-side-combinable agg for the peak, and a
    * 5-row broadcast back — no self-join, no interval cross product.
    * With a high-cardinality partition key this is the textbook keyed
    * sweep; a single global sweep would need range-partitioned prefix
    * sums instead. */
  def q106PeakConcurrency(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val b = e.select(col("event_type"), col("ts").as("bt"), lit(1).as("delta"))
      .unionAll(e.select(col("event_type"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("bt"), lit(-1).as("delta")))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("bt"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val c = b.withColumn("cur", sum(col("delta")).over(w))
    val peaks = c.groupBy("event_type").agg(max(col("cur")).as("peak"))
    c.join(broadcast(peaks), "event_type")
      .filter(col("cur") === col("peak"))
      .groupBy("event_type")
      .agg(first(col("peak")).as("peak"), min(col("bt")).as("first_peak_ts"))
      .orderBy("event_type")
  }

  val q106PeakConcurrencySql: String =
    """WITH b AS (
      |  SELECT event_type, ts AS bt, 1 AS delta FROM events
      |  UNION ALL
      |  SELECT event_type, ts + INTERVAL 10 MINUTE AS bt, -1 AS delta FROM events),
      |c AS (
      |  SELECT event_type, bt,
      |    SUM(delta) OVER (PARTITION BY event_type ORDER BY bt, delta
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cur
      |  FROM b),
      |p AS (SELECT event_type, MAX(cur) AS peak FROM c GROUP BY event_type)
      |SELECT c.event_type, CAST(p.peak AS BIGINT) AS peak,
      |  MIN(c.bt) AS first_peak_ts
      |FROM c JOIN p ON c.event_type = p.event_type AND c.cur = p.peak
      |GROUP BY c.event_type, p.peak
      |ORDER BY c.event_type""".stripMargin

  /** Cohort retention matrix: users are cohorted by the ISO week of
    * their FIRST event; each (cohort_wk, week_no) cell counts the
    * distinct users from that cohort active week_no weeks later. The
    * product-analytics staple that funnels (q60) and sessions (q59)
    * don't cover — activity relative to a per-user anchor.
    *
    * Parity: week buckets via `date_trunc('week', …)` (ISO Monday
    * start in both engines); week_no is an exact day-diff of two
    * week-truncated stamps `div` 7, cast BIGINT on both sides; the
    * cell value is a plain COUNT over an already user-distinct
    * activity set — all integers, hash-exact.
    *
    * Scale: the anchor agg and the distinct both shuffle on user_id,
    * the join is user_id-to-user_id (co-partitioned, AQE can reuse
    * the exchange), and the final agg's output is bounded by
    * |weeks|² — independent of user count. No windows, no
    * count-distinct expand (the distinct upstream already pays that
    * cost once, map-side combinable). */
  def q109CohortRetention(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val cohort = e.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).as("cohort_wk"))
    val activity = e
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    activity.join(cohort, "user_id")
      .withColumn("week_no",
        expr("CAST(datediff(wk, cohort_wk) div 7 AS BIGINT)"))
      .groupBy("cohort_wk", "week_no")
      .agg(count(lit(1)).as("active_users"))
      .orderBy("cohort_wk", "week_no")
  }

  val q109CohortRetentionSql: String =
    """WITH cohort AS (
      |  SELECT user_id, date_trunc('week', MIN(ts)) AS cohort_wk
      |  FROM events WHERE user_id IS NOT NULL GROUP BY user_id),
      |activity AS (
      |  SELECT DISTINCT user_id, date_trunc('week', ts) AS wk
      |  FROM events WHERE user_id IS NOT NULL)
      |-- DuckDB date_trunc('week', ts) yields DATE; Spark yields
      |-- TIMESTAMP — re-align the output type
      |SELECT CAST(cohort_wk AS TIMESTAMP) AS cohort_wk,
      |  CAST(date_diff('day', cohort_wk, wk) // 7 AS BIGINT) AS week_no,
      |  COUNT(*) AS active_users
      |FROM activity JOIN cohort USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** First-order Markov transition matrix of event types: for each
    * user's time-ordered event stream, count consecutive
    * (from_type → to_type) pairs and the per-source transition
    * probability. The behavioral-flow shape (what follows what) that
    * the funnel (q60) — which pins ONE fixed sequence — doesn't give.
    *
    * Parity: (ts, event_id) totally orders each user's stream, so
    * `lead` is deterministic; counts are exact BIGINTs; p is one
    * IEEE-exact int64→double division rounded at 6 (q14 discipline).
    * The per-source total stays internal (DuckDB SUM widens to
    * HUGEINT — the q101 lesson — so it must not be projected).
    *
    * Scale: one user_id shuffle for the lead window (linear in events
    * per user), then a map-side-combinable count bounded by
    * |event_type|²; totals re-aggregate that bounded set and
    * broadcast back. */
  def q112Transitions(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val cnt = e.withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"),
        col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val tot = cnt.groupBy("from_type").agg(sum("n").as("tot"))
    cnt.join(broadcast(tot), "from_type")
      .select(col("from_type"), col("to_type"), col("n"),
        (rnd(col("n").cast("double") / col("tot").cast("double"), 6) + 0.0)
          .as("p"))
      .orderBy("from_type", "to_type")
  }

  val q112TransitionsSql: String =
    """WITH pairs AS (
      |  SELECT event_type AS from_type,
      |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      AS to_type
      |  FROM events WHERE user_id IS NOT NULL),
      |cnt AS (SELECT from_type, to_type, COUNT(*) AS n FROM pairs
      |  WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT from_type, SUM(n) AS tot FROM cnt GROUP BY 1)
      |SELECT from_type, to_type, n,
      |  ROUND(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE), 6) + 0 AS p
      |FROM cnt JOIN tot USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin

  /** Session path mining: sessionize each user's stream with q59's
    * 30-minute gap rule, render each session as its ordered
    * event-type path ("view>view>purchase"), and rank the top-20
    * most common paths. The sequence-mining complement to q112 —
    * whole-journey frequencies, not one-step transitions.
    *
    * Parity: the path is assembled from a `sort_array` of
    * (ts, event_id, event_type) structs — the same (ts, event_id)
    * total order the DuckDB `string_agg(… ORDER BY ts, event_id)`
    * uses, so both engines emit identical strings; counts and ranks
    * are integers with a (count desc, path) total tie-break.
    *
    * Scale: ONE user_id shuffle — the session window's partitioning
    * (user_id) already satisfies the (user_id, session_id) group-by's
    * clustered distribution, so the path build adds no exchange; the
    * path count is map-side combinable and the top-20 collapses to
    * TakeOrderedAndProject. Path strings grow with session length
    * (bounded by the gap rule's burst structure, same class as q16's
    * collected arrays); cap with `slice` before `array_join` if a
    * domain ever produces pathological sessions. */
  def q113SessionPaths(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))
    val newSession = when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1).otherwise(0)
    val paths = e.withColumn("new_s", newSession)
      .withColumn("session_id", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
    paths.groupBy("path").agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path")).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_sessions").desc, col("path"))))
      .select(col("rnk"), col("path"), col("n_sessions"))
      .orderBy("rnk")
  }

  val q113SessionPathsSql: String =
    """WITH s AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS session_id
      |  FROM (
      |    SELECT user_id, ts, event_id, event_type,
      |      CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id)
      |           IS NOT DISTINCT FROM NULL THEN 1
      |           WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER
      |             (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
      |             THEN 1
      |           ELSE 0 END AS new_s
      |    FROM events WHERE user_id IS NOT NULL)),
      |p AS (SELECT user_id, session_id,
      |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      |      FROM s GROUP BY user_id, session_id),
      |c AS (SELECT path, COUNT(*) AS n_sessions FROM p GROUP BY path)
      |SELECT rnk, path, n_sessions FROM (
      |  SELECT path, n_sessions,
      |    ROW_NUMBER() OVER (ORDER BY n_sessions DESC, path) AS rnk FROM c)
      |WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** Inter-event dwell-time distribution: the gap from each event to
    * the SAME user's next event (any type), attributed to the earlier
    * event's type, summarized per type as exact p50/p90 seconds and
    * the max. Latency-profile analytics over the (ts, event_id)
    * stream order q112/q113 establish.
    *
    * Parity: gaps are exact integer microseconds (µs-truncated
    * timestamps on both engines, FIXTURES.md hazard #1); Spark
    * `percentile` == DuckDB `quantile_cont` (q15's A10 contract) with
    * the /1e6 conversion and q14-style rounding applied AFTER the
    * exact-µs percentile; max_s is integer floor-divided — hash-exact.
    *
    * Scale: one user_id shuffle for the lead window, then a
    * map-side-combinable agg to the |event_type|-bounded output. The
    * exact percentile holds per-group gap multisets; swap in
    * `percentile_approx` when a type's event count outgrows executor
    * memory (the q15/q107 note). */
  def q114DwellTimes(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val g = e.withColumn("gap_us",
        unix_micros(lead(col("ts"), 1).over(w)) - unix_micros(col("ts")))
      .filter(col("gap_us").isNotNull)
    g.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"),
        rnd(percentile(col("gap_us"), lit(0.5)) / 1e6).as("p50_s"),
        rnd(percentile(col("gap_us"), lit(0.9)) / 1e6).as("p90_s"),
        expr("CAST(max(gap_us) div 1000000 AS BIGINT)").as("max_s"))
      .orderBy("event_type")
  }

  val q114DwellTimesSql: String =
    """WITH g AS (
      |  SELECT event_type,
      |    LEAD(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
      |      - epoch_us(ts) AS gap_us
      |  FROM events WHERE user_id IS NOT NULL)
      |SELECT event_type, COUNT(*) AS n_gaps,
      |  ROUND(quantile_cont(gap_us, 0.5) / 1e6, 4) AS p50_s,
      |  ROUND(quantile_cont(gap_us, 0.9) / 1e6, 4) AS p90_s,
      |  CAST(MAX(gap_us) // 1000000 AS BIGINT) AS max_s
      |FROM g WHERE gap_us IS NOT NULL
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Per-event-type user reach with a Wilson 95% lower confidence
    * bound — the statistically honest way to rank funnel steps or
    * feature adoption when group sizes differ: the raw share of users
    * who performed the event at least once is optimistic for small
    * cohorts, while the Wilson score interval (Wilson 1927, the
    * recommendation-ranking standard) discounts exactly by sample size.
    *
    * Parity: counts are exact (distinct users per type / overall, the
    * latter collected once as a driver scalar and inlined — the q121
    * totals discipline); the Wilson formula is one +,*,/,sqrt tree
    * written with identical association for both engines — IEEE
    * division/multiplication are deterministic and sqrt is
    * correctly-rounded by spec, so the doubles match bit-for-bit before
    * round(4).
    *
    * Scale: one (event_type, user_id) distinct — map-side combinable —
    * then a 5-row projection; the global distinct-user count is one
    * scan-level aggregate. */
  def q133WilsonReach(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    // in-plan 1-row reach broadcast (q242 form, r13: the last build-time
    // .head() bounds fetches left any builder path); the double chain
    // reproduces the old literal-interpolated arithmetic op-for-op
    val tot = e.select(countDistinct(col("user_id")).cast("double").as("n"))
    val k = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("k"))
    val z2 = lit(1.96 * 1.96)
    val nn = col("n")
    val p = col("p")
    k.crossJoin(broadcast(tot))
      .withColumn("p", col("k").cast("double") / nn)
      .withColumn("wilson_lo", round(
        (p + z2 / (lit(2.0) * nn) - lit(1.96) *
          sqrt(p * (lit(1.0) - p) / nn + z2 / (lit(4.0) * nn * nn))) /
          (lit(1.0) + z2 / nn), 4))
      .select(col("event_type"), col("k"), round(col("p"), 4).as("p"),
        col("wilson_lo"))
      .orderBy("event_type")
  }

  val q133WilsonReachSql: String = {
    val z2 = 1.96 * 1.96
    val nSub = "(SELECT COUNT(DISTINCT user_id) FROM events)"
    s"""WITH t AS (
       |  SELECT event_type, COUNT(DISTINCT user_id) AS k,
       |    CAST($nSub AS BIGINT) AS n
       |  FROM events GROUP BY event_type)
       |SELECT event_type, k,
       |  ROUND(CAST(k AS DOUBLE) / n, 4) AS p,
       |  ROUND((CAST(k AS DOUBLE) / n + $z2 / (2.0 * n)
       |    - 1.96 * SQRT(CAST(k AS DOUBLE) / n * (1.0 - CAST(k AS DOUBLE) / n) / n
       |                  + $z2 / (4.0 * n * n)))
       |    / (1.0 + $z2 / n), 4) AS wilson_lo
       |FROM t ORDER BY event_type""".stripMargin
  }

  /** Interval-union coverage per user — total DISTINCT time covered by
    * possibly-overlapping activity intervals ([ts, ts + value hours]):
    * the classic interval-union-length sweep, the integral partner of
    * q106's point-in-time peak concurrency. Covered vs total exposes
    * the overlap factor a per-interval SUM silently double-counts —
    * the difference between "users were active 100 hours" and "users'
    * intervals total 100 hours".
    *
    * The sweep needs only the running maximum of interval ends over the
    * start-ordered sequence: each interval contributes
    * max(0, e − max(s, prior_max_end)) — exactly its un-covered
    * extension. One window, no interval self-join (the O(n²) trap), no
    * island reconstruction.
    *
    * Parity: endpoints are exact int64 microseconds (unix_micros ==
    * epoch_us; the duration rounds once from double); the window frame
    * is ROWS UNBOUNDED PRECEDING→1 PRECEDING with a total (s, e,
    * event_id) order, so the running max is engine-identical; sums and
    * the GREATEST clamp stay integer, one division at the end.
    *
    * Scale: one user_id shuffle shared by the window and the agg;
    * per-user state is one running maximum — no buffering, no
    * quadratic pair space. The streaming form of the same recurrence
    * fits transformWithState with one int64 of state per key. */
  def q137IntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val iv = e.select(col("user_id"), col("event_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) +
        expr("cast(round(value * 3600 * 1000000) as bigint)")).as("e"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("s"), col("e"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    iv.withColumn("pmax", max(col("e")).over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_iv"),
        sum(greatest(col("e") - greatest(col("s"),
          coalesce(col("pmax"), col("s"))), lit(0L))).as("covered_us"),
        sum(col("e") - col("s")).as("total_us"))
      .withColumn("coverage",
        round(col("covered_us").cast("double") / col("total_us"), 4))
      .orderBy("user_id")
  }

  /** Rolling 7-day active users and DAU/WAU stickiness — THE product
    * engagement ratio. Rolling DISTINCT counts resist window frames
    * (COUNT(DISTINCT) OVER RANGE exists in neither engine) and the
    * naive day×day self-join is quadratic in the calendar; the
    * scale-safe form is contribution expansion — each (day, user)
    * activity row contributes to the 7 target days it is visible in
    * (the q149 neighbor-offset shape in time), then one distinct +
    * count per target day. Expansion is a bounded 7×, never
    * |days|×|days|.
    *
    * Parity: date arithmetic on exact integer day offsets; counts
    * exact; one division at output. Early days carry partial windows
    * (standard dashboard semantics).
    *
    * Scale: (day, user) distinct is one map-side-combinable shuffle;
    * the 7× explode is a per-row map; the final distinct/count
    * shuffles on (day, user) — all keyed, no windows, no self-joins. */
  def q152RollingActive(s: SparkSession, dir: String): DataFrame = {
    val du = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val dau = du.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = du
      .withColumn("off", explode(typedlit((0 to 6).toList)))
      .select(date_add(col("day"), col("off")).as("day"), col("user_id"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 4).as("stickiness"))
      .orderBy("day")
  }

  val q152RollingActiveSql: String =
    """WITH du AS (
      |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
      |dau AS (SELECT day, COUNT(*) AS dau FROM du GROUP BY day),
      |w AS (
      |  SELECT DISTINCT day + CAST(o.off AS INTEGER) AS day, user_id
      |  FROM du, (SELECT unnest(generate_series(0, 6)) AS off) o),
      |wau AS (SELECT day, COUNT(*) AS wau FROM w GROUP BY day)
      |SELECT d.day, d.dau, w2.wau,
      |  ROUND(CAST(d.dau AS DOUBLE) / w2.wau, 4) AS stickiness
      |FROM dau d JOIN wau w2 USING (day)
      |ORDER BY d.day""".stripMargin

  /** Longest consecutive-day activity streak per user — the
    * gaps-and-islands date variant behind retention/engagement
    * dashboards ("current streak", "best streak"): distinct active
    * days collapse to runs where day_number − row_number is constant
    * (each gap shifts the difference), and the longest run is one max.
    *
    * Parity: day numbers are exact integer datediffs from the epoch;
    * row_number runs over the per-user DISTINCT day sequence (unique,
    * so the order is total); all counts exact.
    *
    * Scale: one user_id shuffle shared by the distinct, the window and
    * both aggs; per-user state is the day list (bounded by the
    * calendar, ~365/year/user). No self-join, no date spine. */
  def q141Streaks(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("d")
    d.withColumn("grp",
        datediff(col("d"), lit("1970-01-01")) - row_number().over(w))
      .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      .groupBy("user_id")
      .agg(sum("len").as("n_days"), max("len").as("max_streak"),
        count(lit(1)).as("n_streaks"))
      .orderBy("user_id")
  }

  val q141StreaksSql: String =
    """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      |g AS (
      |  SELECT user_id, d,
      |    date_diff('day', DATE '1970-01-01', d)
      |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
      |  FROM d),
      |s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY 1, 2)
      |SELECT user_id, CAST(SUM(len) AS BIGINT) AS n_days,
      |  MAX(len) AS max_streak, COUNT(*) AS n_streaks
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin

  val q137IntervalUnionSql: String =
    """WITH iv AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS s,
      |    epoch_us(ts) + CAST(ROUND(value * 3600 * 1000000) AS BIGINT) AS e
      |  FROM events),
      |w AS (
      |  SELECT user_id, s, e,
      |    MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |  FROM iv)
      |SELECT user_id, COUNT(*) AS n_iv,
      |  CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pmax, s)), 0)) AS BIGINT)
      |    AS covered_us,
      |  CAST(SUM(e - s) AS BIGINT) AS total_us,
      |  ROUND(CAST(SUM(GREATEST(e - GREATEST(s, COALESCE(pmax, s)), 0)) AS DOUBLE)
      |    / CAST(SUM(e - s) AS BIGINT), 4) AS coverage
      |FROM w GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Weekly growth accounting — the canonical engagement decomposition
    * every growth dashboard leads with: each active (user, week) is
    * exactly one of NEW (first week ever), RETAINED (also active the
    * immediately-preceding calendar week) or RESURRECTED (returning
    * after a gap); CHURNED(w) = active(w−1) − retained(w), the users
    * the previous week lost. Identity n_active = n_new + n_retained +
    * n_resurrected holds by construction — the oracle hash pins it.
    * q109's cohort matrix slices the same activity by cohort age;
    * q152's DAU/WAU is the rolling-window view; this is the
    * week-over-week flow decomposition.
    *
    * Parity: weeks are `date_trunc('week')` (both engines anchor
    * Monday) cast to DATE; "previous week" is exact date arithmetic
    * (wk − 7 days), so sparse weeks classify correctly; counts exact
    * int64; first week's churn is NULL in both engines (LAG off the
    * edge).
    *
    * Scale: one distinct over (user, week) + per-user window (both on
    * the same user shuffle) + a week-keyed map-side agg; the final
    * LAG runs over the week-count-bounded aggregate, not fact rows. */
  def q159GrowthAccounting(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("wk"))
      .distinct()
    val byU = Window.partitionBy("user_id").orderBy("wk")
    val cls = uw
      .withColumn("first_wk", min("wk").over(Window.partitionBy("user_id")))
      .withColumn("prev_wk", lag(col("wk"), 1).over(byU))
      .withColumn("cls",
        when(col("wk") === col("first_wk"), "new")
          .when(col("prev_wk") === date_sub(col("wk"), 7), "retained")
          .otherwise("resurrected"))
    val weekly = cls.groupBy("wk").agg(
      count(lit(1)).as("n_active"),
      sum(when(col("cls") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("cls") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("cls") === "resurrected", 1L).otherwise(0L))
        .as("n_resurrected"))
    weekly
      .withColumn("n_churned",
        lag(col("n_active"), 1).over(Window.orderBy("wk")) - col("n_retained"))
      .orderBy("wk")
  }

  val q159GrowthAccountingSql: String =
    """WITH uw AS (
      |  SELECT DISTINCT user_id,
      |    CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |c AS (
      |  SELECT user_id, wk,
      |    MIN(wk) OVER (PARTITION BY user_id) AS first_wk,
      |    LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk
      |  FROM uw),
      |cls AS (
      |  SELECT wk,
      |    CASE WHEN wk = first_wk THEN 'new'
      |         WHEN prev_wk = wk - 7 THEN 'retained'
      |         ELSE 'resurrected' END AS cls
      |  FROM c),
      |weekly AS (
      |  SELECT wk, COUNT(*) AS n_active,
      |    CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_new,
      |    CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_resurrected
      |  FROM cls GROUP BY wk)
      |SELECT wk, n_active, n_new, n_retained, n_resurrected,
      |  LAG(n_active) OVER (ORDER BY wk) - n_retained AS n_churned
      |FROM weekly ORDER BY wk""".stripMargin

  /** Engagement-concentration Lorenz table: users ranked into activity
    * deciles (most-active first), with each decile's user count, event
    * count, event share, and CUMULATIVE share — the "top 10% of users
    * produce X% of events" census (the distribution view of q150's
    * scalar Gini). Decile assignment runs through [[RangedNtile]] — the
    * exact-NTILE machinery with no single-reducer sort, since the USER
    * census grows with the corpus — and the Lorenz accumulation is a
    * window over exactly 10 rows.
    *
    * Parity: NTILE tie placement is made deterministic by the (n desc,
    * user_id) total order (the q98 contract); shares use the half-up
    * integer division. */
  def q167Lorenz(s: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(s, dir)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
    val dec = RangedNtile.withNtile(perUser, 10,
      Seq(col("n").desc, col("user_id")), "decile")
    val byDec = dec.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum("n").as("n_events"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withTot = byDec
      .withColumn("cum_events", sum("n_events").over(w))
      .withColumn("tot", sum("n_events").over(
        Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    def share(c: org.apache.spark.sql.Column) = {
      val h = c * 20000L + col("tot")
      val d2 = col("tot") * 2L
      ((h - pmod(h, d2)) / d2).cast("long") / 10000.0
    }
    withTot.select(col("decile"), col("n_users"), col("n_events"),
        share(col("n_events")).as("share"),
        share(col("cum_events")).as("cum_share"))
      .orderBy("decile")
  }

  val q167LorenzSql: String =
    """WITH u AS (
      |  SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id),
      |d AS (
      |  SELECT user_id, n,
      |    NTILE(10) OVER (ORDER BY n DESC, user_id) AS decile
      |  FROM u),
      |b AS (
      |  SELECT decile, COUNT(*) AS n_users, CAST(SUM(n) AS BIGINT)
      |    AS n_events
      |  FROM d GROUP BY decile),
      |c AS (
      |  SELECT decile, n_users, n_events,
      |    CAST(SUM(n_events) OVER (ORDER BY decile
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |      AS cum_events,
      |    CAST(SUM(n_events) OVER () AS BIGINT) AS tot
      |  FROM b)
      |SELECT decile, n_users, n_events,
      |  ((n_events * 20000 + tot) // (tot * 2)) / 10000.0 AS share,
      |  ((cum_events * 20000 + tot) // (tot * 2)) / 10000.0 AS cum_share
      |FROM c ORDER BY decile""".stripMargin

  /** L126 debounce dedup — tolerance-based event suppression: within
    * each (user, event_type), an event arriving ≤ 5 s after its
    * predecessor is a bounce (double-click, retry storm, duplicate
    * webhook) and is dropped; only burst STARTS survive. This is the
    * time-tolerant sibling of L2's exact keep-latest (equality keys
    * can't catch near-simultaneous duplicates with distinct ids) and
    * the batch analog of T5's streaming dropDuplicates-within-watermark.
    *
    * A burst start is simply a row whose gap to the previous same-key
    * event is NULL or > the tolerance — one lag window, no burst-id
    * cumsum needed when only counts per key are emitted.
    *
    * Parity: gaps are exact µs int64 (unix_micros / epoch_us); ties on
    * ts break by event_id, so the lag order is total on both engines.
    *
    * Scale: one keyed window, partitioned by (user, event_type) — the
    * same per-user-bounded state as the session operators; no global
    * sort anywhere. */
  def q188Debounce(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    val tolMicros = 5000000L
    Tables.events(s, dir)
      .withColumn("gap",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .select(col("user_id"), col("event_type"),
        when(col("gap").isNull || col("gap") > tolMicros, 1L)
          .otherwise(0L).as("keep"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("keep").as("n_kept"))
      .orderBy("user_id", "event_type")
  }

  val q188DebounceSql: String =
    """WITH g AS (
      |  SELECT user_id, event_type,
      |    epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
      |      PARTITION BY user_id, event_type
      |      ORDER BY ts, event_id) AS gap
      |  FROM events),
      |k AS (
      |  SELECT user_id, event_type,
      |    CASE WHEN gap IS NULL OR gap > 5000000 THEN 1 ELSE 0 END AS keep
      |  FROM g)
      |SELECT user_id, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(keep) AS BIGINT) AS n_kept
      |FROM k GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  /** L131 inter-event burstiness (Goh & Barabási 2008 [PK]) — per-user
    * B = (σ−μ)/(σ+μ) over inter-arrival gaps: −1 = metronome, 0 =
    * Poisson, →1 = bursty. The temporal-signature statistic the event
    * family still lacked (q59 sessionizes, q141 streaks daily activity,
    * q188 suppresses bursts — none MEASURES burstiness), and the
    * standard screen for bot-like vs human cadence before trusting
    * per-user engagement features.
    *
    * Parity: gaps floor to whole seconds (exact int64 `div`, so Σg² ≤
    * (2.6e6)²·|events| stays far under 2^63); μ, σ and B are one fixed
    * int→double chain (population variance Σg²/n − μ², clamped at 0
    * before the IEEE-exact sqrt); gap ties order by event_id.
    *
    * Scale: one (user)-keyed lag window + one keyed agg of three int64
    * partials — per-user-bounded state, the q59 shape. */
  def q193Burstiness(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gaps = Tables.events(s, dir)
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .filter(col("gap_us").isNotNull)
      .select(col("user_id"), expr("gap_us div 1000000").as("g"))
    val mean = col("sg").cast("double") / col("n").cast("double")
    val variance = col("sq").cast("double") / col("n").cast("double") -
      (col("sg").cast("double") / col("n").cast("double")) *
      (col("sg").cast("double") / col("n").cast("double"))
    val std = sqrt(greatest(variance, lit(0.0)))
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum(col("g")).as("sg"),
        sum(col("g") * col("g")).as("sq"))
      .select(col("user_id"), col("n").as("n_gaps"), mean.as("mean_s"),
        std.as("std_s"),
        when(std + mean > 0.0, (std - mean) / (std + mean))
          .otherwise(lit(0.0)).as("burstiness"))
      .orderBy("user_id")
  }

  val q193BurstinessSql: String =
    """WITH g AS (
      |  SELECT user_id,
      |    (epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (
      |       PARTITION BY user_id ORDER BY ts, event_id)) // 1000000 AS g
      |  FROM events),
      |a AS (
      |  SELECT user_id, COUNT(*) AS n,
      |    CAST(SUM(g) AS BIGINT) AS sg, CAST(SUM(g * g) AS BIGINT) AS sq
      |  FROM g WHERE g IS NOT NULL GROUP BY user_id)
      |SELECT user_id, n AS n_gaps,
      |  CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) AS mean_s,
      |  sqrt(GREATEST(
      |    CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
      |      - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |        * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 0.0)) AS std_s,
      |  CASE WHEN sqrt(GREATEST(
      |      CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
      |      + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE) > 0.0
      |    THEN (sqrt(GREATEST(
      |      CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
      |      - CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |      / (sqrt(GREATEST(
      |      CAST(sq AS DOUBLE) / CAST(n AS DOUBLE)
      |        - (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |          * (CAST(sg AS DOUBLE) / CAST(n AS DOUBLE)), 0.0))
      |      + CAST(sg AS DOUBLE) / CAST(n AS DOUBLE))
      |    ELSE 0.0 END AS burstiness
      |FROM a ORDER BY user_id""".stripMargin

  /** L264 prefix-covered session-path dedup census: how many DISTINCT
    * session paths are strict step-prefixes of some longer observed
    * path ("view" covered by "view>cart"), per depth — the
    * funnel-compression statistic that says how much of the path
    * census is redundant with its own continuations (the path-space
    * analogue of L89's containment dedup).
    *
    * One global lexicographic sort decides EVERYTHING: if path P is a
    * step-prefix of any later path, it is a step-prefix of its
    * immediate lexicographic successor (proof in the standard way:
    * any string between P+">" and a covering B shares the P+">"
    * prefix; and no valid path sits strictly between P and P+">"
    * because every event-type character sorts above '>'). So the
    * census needs ADJACENT pairs only — computed distributedly by
    * assigning a global order index with [[graft.ops.PrefixSum]]
    * (range partition + per-partition counts, no single-partition
    * window) and equi-joining rn with rn+1.
    *
    * Parity: pure string/integer logic — no doubles except the final
    * 4dp coverage ratio of two exact counts.
    *
    * Scale: sessionize (user-keyed window) → distinct-path census
    * (map-side combinable, heavily sublinear in events) → PrefixSum
    * index → one rn-keyed self-join. */
  def q330PrefixPaths(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapUs = unix_micros(col("ts")) -
      unix_micros(lag(col("ts"), 1).over(w))
    val newSession =
      when(gapUs.isNull || gapUs > 30L * 60 * 1000000, 1).otherwise(0)
    val paths = e.withColumn("new_s", newSession)
      .withColumn("session_id", sum(col("new_s"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(array_join(
        transform(
          sort_array(collect_list(
            struct(col("ts"), col("event_id"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .select("path").distinct()
    val indexed = graft.ops.PrefixSum.withPrefixSums(
      paths, Seq(col("path")), Seq((lit(1L), "rn")))
    val nxt = indexed.select((col("rn") - 1L).as("rn"),
      col("path").as("next_path"))
    indexed.join(nxt, Seq("rn"), "left")
      .withColumn("covered",
        when(col("next_path").isNotNull &&
          col("next_path").startsWith(concat(col("path"), lit(">"))),
          1L).otherwise(0L))
      .groupBy(size(split(col("path"), ">")).as("depth"))
      .agg(count(lit(1)).as("n_paths"), sum(col("covered")).as("n_covered"))
      .select(col("depth").cast("long").as("depth"), col("n_paths"),
        col("n_covered"),
        Parity.fix(col("n_covered").cast("double") /
          col("n_paths").cast("double"), 4).as("coverage"))
      .orderBy("depth")
  }

  val q330PrefixPathsSql: String =
    """WITH e AS (
      |  SELECT user_id, ts, event_id, event_type
      |  FROM events WHERE user_id IS NOT NULL),
      |g AS (
      |  SELECT *, CASE WHEN LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |    OR date_diff('microseconds', LAG(ts) OVER
      |      (PARTITION BY user_id ORDER BY ts, event_id), ts)
      |      > 30 * 60 * 1000000
      |    THEN 1 ELSE 0 END AS new_s
      |  FROM e),
      |sid AS (
      |  SELECT *, SUM(new_s) OVER
      |    (PARTITION BY user_id ORDER BY ts, event_id
      |     ROWS UNBOUNDED PRECEDING) AS session_id
      |  FROM g),
      |paths AS (
      |  SELECT DISTINCT string_agg(event_type, '>'
      |    ORDER BY ts, event_id) AS path
      |  FROM sid GROUP BY user_id, session_id),
      |adj AS (
      |  SELECT path, LEAD(path) OVER (ORDER BY path) AS next_path
      |  FROM paths)
      |SELECT CAST(len(string_split(path, '>')) AS BIGINT) AS depth,
      |  COUNT(*) AS n_paths,
      |  CAST(SUM(CASE WHEN next_path IS NOT NULL
      |    AND starts_with(next_path, path || '>') THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_covered,
      |  FLOOR(SUM(CASE WHEN next_path IS NOT NULL
      |    AND starts_with(next_path, path || '>') THEN 1 ELSE 0 END)
      |    * 1.0 / COUNT(*) * 1e4 + 0.5) / 1e4 + 0 AS coverage
      |FROM adj GROUP BY 1
      |ORDER BY depth""".stripMargin
}
