package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated queries for the round-2 pipeline operators: bloom-routed
  * incremental dedup, the forward as-of join, and the range-clustered
  * compacting sink. Each op's exactness claim is thereby checked against
  * DuckDB, not just ScalaTest. */
object PipelineQueries {

  private def scratch(sfDir: String, tag: String): String = {
    val key = sfDir.replaceAll("[^A-Za-z0-9]", "_")
    s"${System.getProperty("java.io.tmpdir")}/graft_rt/$key/$tag"
  }

  /** L15 under the oracle gate: customers with no URGENT order (the q3
    * answer), computed with the bloom-routed exact dedup — the sketch
    * over the urgent-order keys routes definitely-new customers around
    * the anti-join; the result is exactly NOT EXISTS. */
  def q73BloomNewKeys(s: SparkSession, dir: String): DataFrame = {
    val corpus = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("cust_key"))
    val batch = Tables.customer(s, dir).select(col("c_custkey").as("cust_key"))
    val bloom = BloomDedup.buildFilter(corpus, "cust_key",
      expectedItems = corpus.count(), fpp = 0.01)
    BloomDedup.newAgainst(batch, corpus, "cust_key", bloom)
      .orderBy("cust_key")
  }

  val q73BloomNewKeysSql: String =
    """SELECT c_custkey AS cust_key FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY cust_key""".stripMargin

  /** J8 forward direction under the oracle gate: for each purchase, the
    * EARLIEST view at-or-after it by the same user (least view_id on
    * ties) — the native merge operator running Forward. */
  def q74AsofForward(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    graft.plans.AsofJoinOp.asofJoin(purchases, views,
        leftKey = "user_id", rightKey = "v_user_id",
        leftTs = "purchase_ts", rightTs = "view_ts", tie = Some("view_id"),
        direction = graft.plans.AsofDirection.Forward)
      .select("user_id", "purchase_id", "purchase_ts", "view_id", "view_ts")
      .orderBy("user_id", "purchase_id")
  }

  val q74AsofForwardSql: String =
    """WITH p AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'),
      |     v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view')
      |SELECT user_id, purchase_id, purchase_ts, view_id, view_ts FROM (
      |  SELECT p.user_id, p.event_id AS purchase_id, p.ts AS purchase_ts,
      |    v.event_id AS view_id, v.ts AS view_ts,
      |    ROW_NUMBER() OVER (PARTITION BY p.event_id ORDER BY v.ts ASC, v.event_id ASC) AS rn
      |  FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts)
      |WHERE rn = 1
      |ORDER BY user_id, purchase_id""".stripMargin

  /** L17 under the oracle gate: quarantined customers with their
    * violation tags (flattened to a string for the driver's hasher).
    * The rule conjunction and the per-rule tags must match DuckDB
    * evaluating the same predicates. */
  def q76Quarantine(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val (_, bad) = DataQuality.quarantine(c, Seq(
      "nonneg_balance" -> (col("c_acctbal") >= 0),
      "balance_cap" -> (col("c_acctbal") <= 5000)))
    bad.select(col("c_custkey"),
        array_join(col("_violations"), ",").as("violations"))
      .orderBy("c_custkey")
  }

  val q76QuarantineSql: String =
    """SELECT c_custkey,
      |  array_to_string(list_filter([
      |    CASE WHEN NOT COALESCE(c_acctbal >= 0, FALSE) THEN 'nonneg_balance' END,
      |    CASE WHEN NOT COALESCE(c_acctbal <= 5000, FALSE) THEN 'balance_cap' END],
      |    x -> x IS NOT NULL), ',') AS violations
      |FROM customer
      |WHERE NOT COALESCE(c_acctbal >= 0, FALSE)
      |   OR NOT COALESCE(c_acctbal <= 5000, FALSE)
      |ORDER BY c_custkey""".stripMargin

  /** Snapshot diff under the oracle gate: two deterministic "versions"
    * of orders (old drops key%5==0 rows, new drops key%7==0 rows and
    * bumps o_totalprice where key%11==0) diffed on the key — added /
    * removed / changed rows with the changed columns named, against a
    * DuckDB FULL OUTER mirror. */
  def q77SnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val oldSnap = o.filter(col("o_orderkey") % 5 =!= 0)
    val newSnap = o.filter(col("o_orderkey") % 7 =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % 11 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")))
    Diff.snapshotDiff(oldSnap, newSnap, keys = Seq("o_orderkey"),
        compareCols = Seq("o_totalprice", "o_orderstatus"))
      .orderBy("o_orderkey")
  }

  val q77SnapshotDiffSql: String =
    """WITH old AS (
      |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
      |  WHERE o_orderkey % 5 <> 0),
      |new AS (
      |  SELECT o_orderkey,
      |    CASE WHEN o_orderkey % 11 = 0 THEN o_totalprice + 10.0
      |         ELSE o_totalprice END AS o_totalprice,
      |    o_orderstatus
      |  FROM orders WHERE o_orderkey % 7 <> 0)
      |SELECT coalesce(new.o_orderkey, old.o_orderkey) AS o_orderkey,
      |  CASE WHEN old.o_orderkey IS NULL THEN 'added'
      |       WHEN new.o_orderkey IS NULL THEN 'removed'
      |       WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice
      |         OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
      |         THEN 'changed' END AS change,
      |  CASE WHEN old.o_orderkey IS NULL OR new.o_orderkey IS NULL THEN ''
      |       ELSE array_to_string(list_filter([
      |         CASE WHEN old.o_totalprice IS DISTINCT FROM new.o_totalprice THEN 'o_totalprice' END,
      |         CASE WHEN old.o_orderstatus IS DISTINCT FROM new.o_orderstatus THEN 'o_orderstatus' END],
      |         x -> x IS NOT NULL), ',') END AS changed_cols
      |FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
      |WHERE old.o_orderkey IS NULL OR new.o_orderkey IS NULL
      |   OR old.o_totalprice IS DISTINCT FROM new.o_totalprice
      |   OR old.o_orderstatus IS DISTINCT FROM new.o_orderstatus
      |ORDER BY o_orderkey""".stripMargin

  /** A11's inverse under the oracle gate: unpivot/melt the lineitem
    * measure columns to long form — Spark 4 `unpivot` vs DuckDB
    * `UNPIVOT`. Values pass through unchanged (no arithmetic), so
    * doubles compare exactly. */
  def q78Unpivot(s: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(s, dir)
      .filter(col("l_linenumber") === 1)
      .select("l_orderkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .unpivot(
        ids = Array(col("l_orderkey")),
        values = Array(col("l_quantity"), col("l_extendedprice"),
          col("l_discount"), col("l_tax")),
        variableColumnName = "measure", valueColumnName = "value")
      // value joins the sort: the synthetic lineitem can carry several
      // l_linenumber=1 rows per order, so (orderkey, measure) alone is
      // not a total order
      .orderBy("l_orderkey", "measure", "value")
  }

  val q78UnpivotSql: String =
    """SELECT l_orderkey, measure, value FROM (
      |  SELECT l_orderkey, l_quantity, l_extendedprice, l_discount, l_tax
      |  FROM lineitem WHERE l_linenumber = 1)
      |UNPIVOT (value FOR measure IN (l_quantity, l_extendedprice, l_discount, l_tax))
      |ORDER BY l_orderkey, measure, value""".stripMargin

  /** Record linkage under the oracle gate: link the customer table
    * against a deterministically-dirtied copy of itself (leading zeros
    * stripped from the name, balance rounded to integer — the classic
    * "same entity, different source formatting" situation). Blocking on
    * (nation, balance-bucket) keeps candidates ∝ block sizes; scoring
    * is 0.3·name-edit-similarity + 0.7·balance-proximity; two
    * thresholds classify match vs possible. Every step is mirrored in
    * DuckDB, so the scores and classes must agree exactly. */
  def q83RecordLinkage(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val aSide = c.select(col("c_custkey").as("a_id"), col("c_name").as("a_name"),
      col("c_nationkey").as("nk"),
      floor(col("c_acctbal") / 100).cast("long").as("bal_bkt"),
      col("c_acctbal").as("a_bal"))
    val bSide = c.select(col("c_custkey").as("b_id"),
      regexp_replace(col("c_name"), "#0+", "#").as("b_name"),
      col("c_nationkey").as("nk"),
      floor(round(col("c_acctbal")) / 100).cast("long").as("bal_bkt"),
      round(col("c_acctbal")).as("b_bal"))
    RecordLinkage.link(aSide, bSide, blockOn = Seq("nk", "bal_bkt"),
        sims = Seq(
          RecordLinkage.nameSim(col("a_name"), col("b_name")) -> 0.3,
          RecordLinkage.proximitySim(col("a_bal"), col("b_bal")) -> 0.7),
        matchT = 0.75, possibleT = 0.6)
      .select(col("a_id"), col("b_id"), round(col("score"), 4).as("score"),
        col("clazz"))
      .orderBy("a_id", "b_id")
  }

  val q83RecordLinkageSql: String =
    """WITH a AS (
      |  SELECT c_custkey AS a_id, c_name AS a_name, c_nationkey AS nk,
      |    CAST(floor(c_acctbal / 100) AS BIGINT) AS bal_bkt,
      |    c_acctbal AS a_bal
      |  FROM customer),
      |b AS (
      |  SELECT c_custkey AS b_id,
      |    regexp_replace(c_name, '#0+', '#', 'g') AS b_name,
      |    c_nationkey AS nk,
      |    CAST(floor(round(c_acctbal) / 100) AS BIGINT) AS bal_bkt,
      |    round(c_acctbal) AS b_bal
      |  FROM customer)
      |SELECT a_id, b_id, ROUND(score, 4) AS score,
      |  CASE WHEN score >= 0.75 THEN 'match' ELSE 'possible' END AS clazz
      |FROM (
      |  SELECT a_id, b_id,
      |    0.3 * (CASE WHEN greatest(length(a_name), length(b_name)) = 0 THEN 1.0
      |           ELSE 1.0 - CAST(levenshtein(a_name, b_name) AS DOUBLE)
      |                / greatest(length(a_name), length(b_name)) END)
      |    + 0.7 * (1.0 / (1.0 + abs(CAST(a_bal AS DOUBLE) - CAST(b_bal AS DOUBLE)))) AS score
      |  FROM a JOIN b USING (nk, bal_bkt))
      |WHERE score >= 0.6
      |ORDER BY a_id, b_id""".stripMargin

  /** Entity resolution end-to-end under the oracle gate: q83's match
    * pairs transitively closed into entity ids by the ITERATIVE
    * min-label propagation operator — checked against a DuckDB
    * RECURSIVE CTE computing the same transitive closure. Proves the
    * distributed fixpoint loop lands on exactly the closure a
    * sequential engine computes. */
  def q84Entities(s: SparkSession, dir: String): DataFrame = {
    val pairs = q83RecordLinkage(s, dir)
      .filter(col("clazz") === "match")
      .select("a_id", "b_id")
    ConnectedComponents.components(pairs, "a_id", "b_id")
      .orderBy("id")
  }

  val q84EntitiesSql: String =
    """WITH RECURSIVE
      |pairs AS (
      |  SELECT a_id, b_id FROM (
      |""".stripMargin +
      q83RecordLinkageSql.linesIterator
        .filter(!_.startsWith("ORDER BY")).mkString("\n") +
    """
      |  ) WHERE clazz = 'match'),
      |edges AS (
      |  SELECT a_id AS src, b_id AS dst FROM pairs
      |  UNION SELECT b_id, a_id FROM pairs),
      |closure(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src)
      |SELECT id, MIN(r) AS component FROM (
      |  SELECT src AS id, dst AS r FROM closure
      |  UNION ALL SELECT src, src FROM edges)
      |GROUP BY id
      |ORDER BY id""".stripMargin

  /** Sequence packing under the oracle gate — the pre-training batch
    * op: assign whole documents to fixed token-budget bins (512 here)
    * in a deterministic order, per language. Greedy contiguous
    * packing: a document goes to the bin its RUNNING token total
    * (exclusive) falls in; documents are never split. One keyed window
    * cumsum — a single shuffle at any corpus size. Emits per-bin doc
    * counts, token totals, and the fill ratio. */
  def q85SeqPacking(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.tokens
    val budget = 512L
    val d = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    d.withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("bin", floor((col("cum") - col("n_tok")) / budget).cast("long"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("bin_tokens"))
      .withColumn("fill", round(col("bin_tokens") / (budget * 1.0), 4))
      .orderBy("lang", "bin")
  }

  val q85SeqPackingSql: String =
    """SELECT lang, bin, COUNT(*) AS n_docs,
      |  CAST(SUM(n_tok) AS BIGINT) AS bin_tokens,
      |  ROUND(CAST(SUM(n_tok) AS DOUBLE) / 512.0, 4) AS fill
      |FROM (
      |  SELECT lang, doc_id, n_tok,
      |    CAST(floor((SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok) / 512) AS BIGINT) AS bin
      |  FROM (SELECT lang, doc_id,
      |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |        FROM documents))
      |GROUP BY lang, bin
      |ORDER BY lang, bin""".stripMargin

  /** Weighted source mixing under the oracle gate — "data mixing":
    * retain a different deterministic fraction of each language toward
    * a target mix (en 80%, everything else 20%) by ranking a per-row
    * hash inside each stratum into percentile buckets (`ntile(100)`)
    * and keeping buckets up to the stratum's rate. Reproducible under
    * any partitioning — no rand(). */
  def q86SourceMixing(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val h = pmod(col("doc_id") * 1103515245L + 12345L, lit(1000000007L))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    val rate = when(col("lang") === "en", 80).otherwise(20)
    d.withColumn("h", h)
      .withColumn("pct", ntile(100).over(w))
      .filter(col("pct") <= rate)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("lang")
  }

  val q86SourceMixingSql: String =
    """SELECT lang, COUNT(*) AS n_kept FROM (
      |  SELECT lang,
      |    NTILE(100) OVER (PARTITION BY lang
      |      ORDER BY ((doc_id * 1103515245 + 12345) % 1000000007 + 1000000007) % 1000000007, doc_id) AS pct
      |  FROM documents)
      |WHERE pct <= CASE WHEN lang = 'en' THEN 80 ELSE 20 END
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** Benchmark-contamination detection under the oracle gate — eval
    * hygiene: which corpus documents share a 3-token shingle with the
    * held-out benchmark set (doc_id % 97 == 0 stands in for it)?
    * Benchmark shingles are a small distinct set → broadcast equi-join
    * against the corpus shingle explosion; reports per-document shared
    * shingle counts. Reuses the q51 portable shingle-hash kernels, so
    * the DuckDB mirror is exact. At 100 TB this is the shape
    * decontamination actually runs: corpus-side explode is map-local,
    * the join is broadcast, output ∝ contaminated docs. */
  def q87Contamination(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.{shingleHashes, tokenHashes}
    val sh = Tables.documents(s, dir).select(col("doc_id"),
        explode(array_distinct(
          shingleHashes(tokenHashes(col("text")), 3))).as("shingle"))
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select("shingle").distinct()
    sh.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), "shingle")
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_shared"))
      .orderBy("doc_id")
  }

  val q87ContaminationSql: String = {
    import graft.functions.TextFns.{docHashSql, tokenHashesSql}
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[])
       |      ELSE list_transform(generate_series(1, len(th) - 2),
       |             i -> ${docHashSql("th[i:i+2]")}) END)) AS shingle
       |  FROM (SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents)),
       |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0)
       |SELECT doc_id, COUNT(DISTINCT shingle) AS n_shared
       |FROM sh JOIN bench USING (shingle)
       |WHERE doc_id % 97 <> 0
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin
  }

  /** Equal-width histogram under the oracle gate — the distribution
    * half of data profiling: 10 buckets over [min, max] of
    * l_extendedprice, bounds derived from the data (one tiny agg,
    * broadcast), bucket = floor((x-min)/width) clamped to the last
    * bucket. Both engines compute identical doubles from identical
    * inputs, so bucket assignment can never diverge. */
  def q88Histogram(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val bounds = l.agg(min(col("l_extendedprice")).as("mn"),
      max(col("l_extendedprice")).as("mx"))
    l.crossJoin(broadcast(bounds))
      // degenerate-input guard: mx == mn makes the width 0 (NaN buckets
      // here, a CAST error in DuckDB) — all-equal data is one bucket 0
      .withColumn("bucket",
        when(col("mx") === col("mn"), lit(0L)).otherwise(
          least(floor((col("l_extendedprice") - col("mn")) /
            ((col("mx") - col("mn")) / 10.0)).cast("long"), lit(9L))))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 4).as("lo"),
        round(max(col("l_extendedprice")), 4).as("hi"))
      .orderBy("bucket")
  }

  val q88HistogramSql: String =
    """WITH s AS (SELECT MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx
      |           FROM lineitem)
      |SELECT bucket, COUNT(*) AS n,
      |  ROUND(MIN(l_extendedprice), 4) AS lo,
      |  ROUND(MAX(l_extendedprice), 4) AS hi
      |FROM (
      |  SELECT l_extendedprice,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE LEAST(CAST(floor((l_extendedprice - mn) / ((mx - mn) / 10.0)) AS BIGINT), 9)
      |    END AS bucket
      |  FROM lineitem CROSS JOIN s)
      |GROUP BY bucket
      |ORDER BY bucket""".stripMargin

  /** Spark 4 VARIANT type under the oracle gate: `parse_json` stores
    * events.props as the binary semi-structured VARIANT (the modern
    * open-table semi-structured encoding, shredded and predicate-
    * pushable at scale — unlike q33's per-query string JSON parsing),
    * `variant_get` extracts a typed path. The oracle extracts the same
    * path from the JSON text, so a value lost or re-typed by the
    * variant encode/decode breaks parity. */
  def q89Variant(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    e.select(col("user_id"),
        variant_get(parse_json(col("props")), "$.k", "int").as("k"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("k")
  }

  val q89VariantSql: String =
    """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k,
      |  COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
      |FROM events
      |GROUP BY 1 ORDER BY k""".stripMargin

  /** The day × priority spine of the date-spine family (q79, q95,
    * q96): every calendar day from the first to the last order date
    * (one tiny agg → sequence, never a driver-side loop) crossed with
    * the distinct order priorities, left-joined to the caller's
    * `daily` frame on (`day`, `o_orderpriority`), so a missing day
    * surfaces as a row of nulls. [[prioritySpineSql]] is its oracle
    * twin; the two change together. */
  private[ops] def prioritySpine(o: DataFrame, daily: DataFrame): DataFrame = {
    val span = o.agg(min(to_date(col("o_orderdate"))).as("d0"),
      max(to_date(col("o_orderdate"))).as("d1"))
    span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
      .crossJoin(o.select("o_orderpriority").distinct())
      .join(daily, Seq("day", "o_orderpriority"), "left")
  }

  /** The `span`, `days`, `prios` and `sparse` CTEs over the caller's
    * relation `daily`, the oracle twin of [[prioritySpine]] (`sparse`
    * is its frame); the two change together. */
  private[ops] def prioritySpineSql(daily: String): String =
    s"""span AS (
       |  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
       |         MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
       |days AS (
       |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
       |prios AS (SELECT DISTINCT o_orderpriority FROM orders),
       |sparse AS (
       |  SELECT * FROM days CROSS JOIN prios
       |  LEFT JOIN $daily USING (day, o_orderpriority))""".stripMargin

  /** Date-spine densification under the oracle gate: the classic
    * time-series integration op — generate the full calendar between
    * the data's min and max day, cross it with the priority dimension,
    * and left-join the daily aggregate so missing days surface as
    * explicit zero rows (gap-filled series feed windows/forecasts that
    * assume contiguous time). The spine is derived FROM the data (one
    * tiny agg → sequence), never a driver-side loop; its size is
    * calendar-bounded, independent of fact volume. */
  def q79DateSpine(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val o = Tables.orders(s, dir)
    val daily = o.groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dm(col("o_totalprice"))).as("rev"))
    prioritySpine(o, daily)
      .select(col("day"), col("o_orderpriority"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        dec4(coalesce(col("rev"), lit(0))).as("revenue"))
      .orderBy("day", "o_orderpriority")
  }

  val q79DateSpineSql: String = {
    import Parity._
    s"""WITH daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
       |    COUNT(*) AS n_orders, SUM(CAST(o_totalprice AS $DM)) AS rev
       |  FROM orders GROUP BY 1, 2),
       |${prioritySpineSql("daily")}
       |SELECT day, o_orderpriority,
       |  COALESCE(n_orders, 0) AS n_orders,
       |  ${out4("COALESCE(rev, 0)")} AS revenue
       |FROM sparse
       |ORDER BY day, o_orderpriority""".stripMargin
  }

  /** L16 under the oracle gate: documents written through the
    * range-clustered compacting sink, read back, re-aggregated — any
    * row lost or duplicated by the repartition/sort/write path breaks
    * parity with the oracle over the ORIGINAL table. */
  def q75ClusteredSink(s: SparkSession, dir: String): DataFrame = {
    val out = scratch(dir, "documents_clustered")
    Compaction.writeClustered(Tables.documents(s, dir), out,
      sortCols = Seq("doc_id"), targetRowsPerFile = 2000L)
    s.read.parquet(out)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))
      .orderBy("lang")
  }

  // CAST AS BIGINT: DuckDB widens integer SUM to HUGEINT → pandas float64
  val q75ClusteredSinkSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
      |  MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Penny-exact proration — the classic financial-integration
    * allocation: distribute each order's header total across its line
    * items proportionally to extended price, in whole cents, such that
    * the allocated cents SUM EXACTLY to the header total (no
    * lost-penny drift). Naive per-row rounding breaks the invariant;
    * the standard fix is largest-remainder apportionment: floor every
    * proportional share, then hand the leftover cents to the lines
    * with the largest division remainders. The rank tiebreak is
    * (remainder, line number, weight): line numbers are NOT unique in
    * this fixture, but lines tying on all three carry identical floors,
    * so the output MULTISET is engine-forced even where the rank itself
    * is not; the weight rides along in the output so every row is
    * self-describing (and [[ProrationSpec]] needs no join back).
    *
    * All arithmetic is int64: prices enter as cents via
    * `ROUND(x*100)` (the stored values have 2 decimals, so the product
    * is within one ulp of an integer — rounding to nearest is
    * tie-free), and `total_c * w ≤ ~6e14` stays far under 2^63. Both
    * engines compute identical quotients/remainders, so the output
    * hash-matches without any float discipline.
    *
    * Scale: one orderkey-keyed shuffle; the three window functions
    * (denominator sum, floor-sum shortfall, remainder rank) all share
    * that partitioning — per-order state only, no driver work, no
    * second shuffle. The date filter bounds the checked slice; the op
    * itself is date-free. */
  def q117Proration(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate").between("1995-03-01", "1995-03-31"))
      .select(col("o_orderkey"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("total_c"))
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        expr("cast(round(l_extendedprice * 100) as bigint)").as("w"))
    val j = l.join(o, col("l_orderkey") === col("o_orderkey")).drop("o_orderkey")
    val byOrder = Window.partitionBy("l_orderkey")
    val byRem = Window.partitionBy("l_orderkey")
      .orderBy(col("rem").desc, col("l_linenumber"), col("w"))
    j.withColumn("denom", sum(col("w")).over(byOrder))
      .withColumn("floor_c", expr("(total_c * w) div denom"))
      .withColumn("rem", expr("(total_c * w) % denom"))
      .withColumn("short", col("total_c") - sum(col("floor_c")).over(byOrder))
      .withColumn("alloc_cents",
        col("floor_c") +
          when(row_number().over(byRem) <= col("short"), 1L).otherwise(0L))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("w").as("ext_cents"), col("alloc_cents"))
      .orderBy("l_orderkey", "l_linenumber", "ext_cents", "alloc_cents")
  }

  val q117ProrationSql: String =
    """WITH o AS (
      |  SELECT o_orderkey,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS total_c
      |  FROM orders
      |  WHERE o_orderdate BETWEEN '1995-03-01' AND '1995-03-31'),
      |j AS (
      |  SELECT l_orderkey, l_linenumber, total_c,
      |    CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS w
      |  FROM lineitem JOIN o ON l_orderkey = o_orderkey),
      |f AS (
      |  -- CAST: DuckDB widens window SUM(BIGINT) to HUGEINT
      |  SELECT l_orderkey, l_linenumber, total_c, w,
      |    CAST(SUM(w) OVER (PARTITION BY l_orderkey) AS BIGINT) AS denom
      |  FROM j),
      |g AS (
      |  SELECT l_orderkey, l_linenumber, total_c, w,
      |    (total_c * w) // denom AS floor_c,
      |    (total_c * w) % denom AS rem
      |  FROM f),
      |h AS (
      |  SELECT l_orderkey, l_linenumber, w, floor_c,
      |    total_c - CAST(SUM(floor_c) OVER (PARTITION BY l_orderkey) AS BIGINT)
      |      AS short,
      |    ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                       ORDER BY rem DESC, l_linenumber, w) AS rnk
      |  FROM g)
      |SELECT l_orderkey, l_linenumber, w AS ext_cents,
      |  floor_c + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS alloc_cents
      |FROM h
      |ORDER BY l_orderkey, l_linenumber, ext_cents, alloc_cents""".stripMargin

  /** Weighted sampling without replacement — Efraimidis–Spirakis A-Res
    * (IPL 2006): rank each row by key u^(1/w) and keep the top n per
    * stratum; inclusion probability is proportional to weight w. The
    * `rand()`-free twist (q71/q72 discipline): u comes from a
    * multiplicative hash of the row key, so the "sample" is a pure
    * function of the data — reproducible across runs, engines, and
    * repartitioning, which is what makes a sampling step auditable in a
    * data pipeline.
    *
    * Parity: u = (h+1)/(P+1) and 1/w are exact IEEE doubles on both
    * engines; `pow` is the one cross-libm call — an order flip needs
    * two keys within ~1 ulp of each other AND straddling the top-n
    * cutoff (the q14 residual-risk class, negligible on hashed input).
    *
    * Scale: the rank-filter window compiles to WindowGroupLimit (the
    * W2/q22 pushdown) — per-partition top-n heaps, no full sort of the
    * fact table. */
  def q127WeightedSample(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val h = pmod(col("o_orderkey") * 1103515245L + 12345L, lit(1000000007L))
    val u = (h + 1).cast("double") / lit(1000000008d)
    val k = pow(u, lit(1.0) / col("o_totalprice"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("k").desc, col("o_orderkey"))
    o.withColumn("k", k)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_orderpriority", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_orderpriority", "rn")
  }

  val q127WeightedSampleSql: String =
    """SELECT o_orderpriority, rn, o_orderkey, o_totalprice FROM (
      |  SELECT o_orderpriority, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
      |      ORDER BY POW(
      |        CAST(((o_orderkey * 1103515245 + 12345) % 1000000007
      |              + 1000000007) % 1000000007 + 1 AS DOUBLE) / 1000000008,
      |        1.0 / o_totalprice) DESC,
      |      o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin

  /** Pareto-frontier shortlist over the part catalog — the parts for
    * which no other part is simultaneously cheaper-or-equal AND
    * larger-or-equal (strict somewhere): minimize retail price, maximize
    * size. Multi-criteria top-set selection, the [[Skyline]] operator;
    * the oracle states the semantics directly as the quadratic
    * NOT EXISTS dominance test, while the Spark plan is the exact
    * one-range-shuffle two-phase sweep (see [[Skyline.skyline2]]).
    *
    * Parity: price and size pass through both engines untouched from the
    * same parquet (no arithmetic), so membership and ordering are forced
    * bit-identically. */
  def q118Skyline(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select("p_partkey", "p_retailprice", "p_size")
    Skyline.skyline2(p, col("p_retailprice"), col("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  val q118SkylineSql: String =
    """SELECT p_partkey, p_retailprice, p_size
      |FROM part p
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM part q
      |  WHERE q.p_retailprice <= p.p_retailprice
      |    AND q.p_size >= p.p_size
      |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
      |ORDER BY p_retailprice, p_partkey""".stripMargin

  /** Benford first-digit screen — the forensic data-quality test:
    * naturally-occurring amounts follow P(d) = log10(1 + 1/d), and a
    * source whose leading-digit histogram strays is synthetic, truncated,
    * or tampered. Per return flag: observed count, observed share, and
    * the Benford expectation per digit 1–9.
    *
    * The leading digit is extracted in exact integer space (cents via
    * `ROUND(x*100)`, then first character of the digit string) — no
    * log10-of-value bucketing, whose float edge cases would differ
    * between engines. The two double outputs are a count ratio
    * (int64→double division, IEEE-identical) and log10 of a literal
    * rational, both rounded at 4 with ulp-scale margins to the rounding
    * grid (checked digit-by-digit: the closest, log10(9/8) = 0.05115252…,
    * sits 2.5e-8 above the 0.05115 boundary — eight orders above any
    * libm ulp divergence).
    *
    * Scale: one map-side-combinable hash agg over lineitem to ≤ 27
    * groups; the per-flag total is a window over ≤ 9 rows. No joins, no
    * fact-sized windows. */
  def q119Benford(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = Tables.lineitem(s, dir)
      .withColumn("digit",
        substring(expr("cast(cast(round(l_extendedprice * 100) as bigint) as string)"),
          1, 1).cast("int"))
    val byFlag = Window.partitionBy("l_returnflag")
    l.groupBy("l_returnflag", "digit").agg(count(lit(1)).as("n"))
      .withColumn("pct",
        round(col("n").cast("double") / sum(col("n")).over(byFlag), 4))
      .withColumn("benford", round(log10(lit(1.0) + lit(1.0) / col("digit")), 4))
      .select("l_returnflag", "digit", "n", "pct", "benford")
      .orderBy("l_returnflag", "digit")
  }

  val q119BenfordSql: String =
    """WITH d AS (
      |  SELECT l_returnflag,
      |    CAST(SUBSTR(CAST(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
      |                     AS VARCHAR), 1, 1) AS INT) AS digit
      |  FROM lineitem),
      |g AS (
      |  SELECT l_returnflag, digit, COUNT(*) AS n
      |  FROM d GROUP BY l_returnflag, digit)
      |SELECT l_returnflag, digit, n,
      |  ROUND(CAST(n AS DOUBLE) /
      |    CAST(SUM(n) OVER (PARTITION BY l_returnflag) AS DOUBLE), 4) AS pct,
      |  ROUND(LOG10(1.0 + 1.0 / digit), 4) AS benford
      |FROM g ORDER BY l_returnflag, digit""".stripMargin

  /** Largest-remainder (Hamilton) apportionment of a training-token
    * budget across sources — the exact-integer companion to q86's
    * weighted mixing: allocate N = 10,000 sampling slots proportional
    * to each source's token count such that slots sum to EXACTLY N
    * (floor quotas, then one extra slot to the largest remainders,
    * ties broken by source name). Proportional rounding that provably
    * sums to the budget is the step a data-mix config generator needs
    * before sampling; naive per-source rounding over- or under-shoots.
    *
    * Parity: quotas are integer div/mod against the corpus total
    * (carried in-plan by whole-frame windows over the ≤|sources|
    * census, r13 — all quantities positive, so Spark's truncating
    * `div` equals DuckDB's flooring `//`);
    * the remainder rank is a window over the ≤|sources| census rows
    * (bounded, corpus-independent); share = slots/10⁴ is the same
    * two-integer double division on both engines. Scale: one
    * map-side-combinable token count per source; everything after
    * runs on census-sized data. */
  def q165Apportion(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = Tables.documents(s, dir)
    val toks = d.select(col("source"),
        (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
          .cast("long").as("nw"))
      .groupBy("source").agg(sum("nw").as("tok"))
    // corpus total and floor-quota deficit in-plan (r13, closing the
    // .head() sweep): whole-frame windows over the source census —
    // no driver action, no extra scan, no nested loop
    val whole = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val based = toks
      .withColumn("tot", sum(col("tok")).over(whole))
      .withColumn("base", expr("tok * 10000L div tot"))
      .withColumn("rem", expr("(tok * 10000L) % tot"))
    val w = Window.orderBy(col("rem").desc, col("source"))
    based
      .withColumn("deficit", lit(10000L) - sum(col("base")).over(whole))
      .withColumn("rk", row_number().over(w))
      .withColumn("slots",
        col("base") + when(col("rk") <= col("deficit"), 1L).otherwise(0L))
      .select(col("source"), col("tok"), col("slots"),
        (col("slots") / 10000.0).as("share"))
      .orderBy("source")
  }

  val q165ApportionSql: String =
    """WITH t AS (
      |  SELECT source,
      |    CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1)
      |      AS BIGINT) AS tok
      |  FROM documents GROUP BY source),
      |tot AS (SELECT CAST(SUM(tok) AS BIGINT) AS tot FROM t),
      |b AS (
      |  SELECT source, tok, (tok * 10000) // tot AS base,
      |    (tok * 10000) % tot AS rem
      |  FROM t, tot),
      |r AS (
      |  SELECT source, tok, base,
      |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk,
      |    (SELECT 10000 - SUM(base) FROM b) AS deficit
      |  FROM b)
      |SELECT source, tok,
      |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS BIGINT)
      |    AS slots,
      |  CAST(base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS DOUBLE)
      |    / 10000.0 AS share
      |FROM r ORDER BY source""".stripMargin

  /** L34 z-order Morton kernel under the hash gate: the quantile-rank
    * step is approxQuantile (not oracle-able by design), so the pin
    * uses FIXED modulo ranks — what stays under oracle control is the
    * bit-interleave itself ([[ZOrder.interleaveBits]], bit b of column
    * c -> output bit b*n+c), mirrored in DuckDB with shift/mask
    * arithmetic. The census groups by z so the hash covers every code
    * path of the interleave over the full fixture.
    *
    * Scale: one map-side expression + a <=256-group agg. */
  def q203ZOrder(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
    val z = graft.ops.ZOrder.interleaveBits(
      Seq(pmod(col("l_partkey"), lit(16)), pmod(col("l_suppkey"), lit(16))),
      bits = 4)
    l.withColumn("z", z)
      .groupBy("z")
      .agg(count(lit(1)).as("n"), sum(col("l_quantity").cast("long")).as("qty"))
      .orderBy("z")
  }

  val q203ZOrderSql: String = {
    // bit b of rank 0 -> bit 2b; bit b of rank 1 -> bit 2b+1
    val terms = (0 until 4).flatMap(b => Seq(
      s"((((l_partkey % 16) >> $b) & 1) << ${2 * b})",
      s"((((l_suppkey % 16) >> $b) & 1) << ${2 * b + 1})"))
    s"""SELECT ${terms.mkString(" + ")} AS z,
       |  COUNT(*) AS n, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
       |FROM lineitem GROUP BY 1 ORDER BY z""".stripMargin
  }

  /** L77 distributed prefix sums under the hash gate: exact global
    * running totals of the 4dp-scaled order price over the o_orderkey
    * total order, via [[PrefixSum.withPrefixSums]] — range partition,
    * per-partition local cumsum, per-partition offsets added back
    * (partition-count driver state, never row data). The oracle is the
    * single-partition SQL window the operator refuses to plan; int64
    * money units make every cumulative value an exact integer, so the
    * hash proves the two-phase decomposition exactly equals the
    * sequential window. */
  def q204PrefixSum(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      Parity.quant(col("o_totalprice"), 1e4).as("v4"))
    graft.ops.PrefixSum.withPrefixSums(o,
        Seq(col("o_orderkey")), Seq((col("v4"), "cum4")))
      .select(col("o_orderkey"), col("v4"), col("cum4"))
      .orderBy("o_orderkey")
  }

  val q204PrefixSumSql: String =
    """SELECT o_orderkey,
      |  CAST(FLOOR(o_totalprice * 10000.0 + 0.5) AS BIGINT) AS v4,
      |  CAST(SUM(CAST(FLOOR(o_totalprice * 10000.0 + 0.5) AS BIGINT))
      |    OVER (ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |    AS cum4
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** L239 PPS systematic sampling ([PK] Madow 1949; Hansen–Hurwitz;
    * Särndal et al. 1992 §3.6): allocate k = 200 audit slots across
    * SUPPLIERS with inclusion probability PROPORTIONAL TO SIZE
    * (revenue cents), by the deterministic systematic rule —
    * thresholds t_i = (2i+1)·T/(2k) walk the cumulative weight line,
    * and a supplier is hit once per threshold inside its weight
    * interval (cum−w, cum]. Every unit with w ≥ T/k is hit with
    * CERTAINTY and proportionally often (n_hits tracks revenue share
    * to ±1 — the textbook PPS multiplicity), so the slot allocation
    * is usable directly as an audit/eval quota. Unlike q127's A-Res
    * (randomized, weight-ordered), this is the fully DETERMINISTIC,
    * replayable design — same data, same sample.
    *
    * Exactness: hits(row) = f(cum) − f(cum−w) with f(c) = #thresholds
    * ≤ c = ⌊(2kc − T)/(2T)⌋ + 1 for 2kc ≥ T (else 0) — pure int64
    * arithmetic (2k·T < 2⁶³ up to ~10¹⁴ revenue cents), no doubles
    * anywhere. The cumulative line rides [[PrefixSum]] over the
    * supplier-keyed revenue census (no single-partition window); T is
    * max-of-cumulative read back as a 1-row broadcast (the q147/q242
    * in-plan form, allowlisted).
    *
    * Scale: one fact-table census + one range-partitioned prefix pass
    * + a map — the sample predicate is local once cum and T are
    * known; output ≤ min(k, |suppliers|) rows. */
  def q307PpsSystematic(s: SparkSession, dir: String): DataFrame = {
    val k = 200L
    val o = Tables.lineitem(s, dir).groupBy("l_suppkey")
      .agg(sum(expr("cast(round(l_extendedprice * 100) as bigint)"))
        .as("w"))
    // r20 (verdict mandate #2): the 1-row grand total fused into the
    // prefix pass (Σw ≡ the max-of-cumulative it replaced)
    val cum = graft.ops.PrefixSum.withPrefixSumsAndTotals(o,
      Seq(col("l_suppkey")), Seq((col("w"), "cum")), Nil,
      Seq((col("w"), "t")))
    val j = cum
      .withColumn("f1", when(col("cum") * (2L * k) < col("t"), 0L)
        .otherwise(expr(s"(cum * ${2 * k} - t) div (2 * t)") + 1L))
      .withColumn("f0", when((col("cum") - col("w")) * (2L * k) <
        col("t"), 0L)
        .otherwise(expr(s"((cum - w) * ${2 * k} - t) div (2 * t)") + 1L))
      .withColumn("n_hits", col("f1") - col("f0"))
      .filter(col("n_hits") > 0L)
    j.select(col("l_suppkey"), col("w").as("weight"),
        col("n_hits"), col("f0").as("first_slot"))
      .orderBy("l_suppkey")
  }

  val q307PpsSystematicSql: String =
    """WITH o AS (
      |  SELECT l_suppkey,
      |    CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
      |      AS BIGINT) AS w
      |  FROM lineitem GROUP BY l_suppkey),
      |c AS (
      |  SELECT l_suppkey, w,
      |    CAST(SUM(w) OVER (ORDER BY l_suppkey
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM o),
      |tot AS (SELECT MAX(cum) AS t FROM c),
      |h AS (
      |  SELECT l_suppkey, w, cum, t,
      |    CASE WHEN cum * 400 < t THEN 0
      |      ELSE (cum * 400 - t) // (2 * t) + 1 END AS f1,
      |    CASE WHEN (cum - w) * 400 < t THEN 0
      |      ELSE ((cum - w) * 400 - t) // (2 * t) + 1 END AS f0
      |  FROM c CROSS JOIN tot)
      |SELECT l_suppkey, w AS weight,
      |  CAST(f1 - f0 AS BIGINT) AS n_hits, CAST(f0 AS BIGINT)
      |    AS first_slot
      |FROM h WHERE f1 - f0 > 0 ORDER BY l_suppkey""".stripMargin

  /** L241 water-filling token-budget allocation ([PK] the classic
    * water-filling / reservoir argument — Boyd & Vandenberghe 2004
    * §5.5 example; data-mixing practice e.g. The Pile / LLaMA report
    * their per-source token budgets): given a 90% token budget B,
    * allocate to each LANGUAGE slice min(cap_l, λ) where the water
    * level λ makes the total exactly B — small slices keep everything
    * (their caps sit under the water line), oversized slices are
    * clipped at a COMMON level (the max-min fair mix; a proportional
    * cut would starve small slices). On the fixture the four ~4k-token
    * languages keep their full caps and the ~3× larger `en` slice
    * absorbs the whole cut — both regimes live, pinned. The integer exact
    * finish reuses q165's largest-remainder discipline: uncapped
    * sources get ⌊λ⌋ = (B−P_m)/(S−m) each, the first r = (B−P_m) mod
    * (S−m) of them (by source name) one extra token, so Σalloc = B
    * EXACTLY (pinned).
    *
    * Construction: per-source token caps (one count agg), the
    * water-level search over the ≤|sources|-row sorted census via one
    * window (find m* = #capped by the exact cross-multiplied test
    * c_m·(S−m) ≤ B−P_m — no division), a 1-row broadcast of
    * (m*, base, r) back onto the census. All integer, no doubles.
    *
    * Scale: everything after the token count is census-sized. */
  def q308WaterFill(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val caps = Tables.documents(s, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long")
        .as("tk"))
      .groupBy("lang").agg(sum(col("tk")).as("cap"))
    val tot = caps.agg(sum(col("cap")).as("tt"),
      count(lit(1)).as("ns"))
      .select(col("tt"), col("ns"), expr("tt * 9 div 10").as("b"))
    val w = Window.orderBy(col("cap"), col("lang"))
    val sorted = caps.crossJoin(broadcast(tot))
      .withColumn("idx", row_number().over(w))
      .withColumn("pc", sum(col("cap")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .localCheckpoint(eager = false)
    // m* = number of CAPPED (smallest) sources: the largest prefix
    // where the cap fits under the water level of the remainder
    val mstar = sorted
      .agg(coalesce(max(when(
        col("cap") * (col("ns") - col("idx")) <=
          col("b") - col("pc"), col("idx"))), lit(0L)).as("m"))
    // P_m (capped prefix mass) as a second 1-row broadcast — window-free
    val pmRow = sorted.crossJoin(broadcast(mstar))
      .agg(max(col("m")).as("m"),
        coalesce(max(when(col("idx") <= col("m"), col("pc"))), lit(0L))
          .as("pm"))
    val fin = sorted.crossJoin(broadcast(pmRow))
      .withColumn("base", expr("(b - pm) div (ns - m)"))
      .withColumn("r", expr("(b - pm) % (ns - m)"))
      .withColumn("alloc",
        when(col("idx") <= col("m"), col("cap"))
          .otherwise(col("base") +
            when(col("idx") - col("m") <= col("r"), 1L).otherwise(0L)))
    fin.select(col("lang"), col("cap").as("cap_tokens"),
        col("alloc").as("alloc_tokens"),
        when(col("idx") <= col("m"), 1L).otherwise(0L).as("capped"))
      .orderBy("lang")
  }

  val q308WaterFillSql: String =
    """WITH caps AS (
      |  SELECT lang,
      |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS cap
      |  FROM documents GROUP BY lang),
      |tot AS (
      |  SELECT CAST(SUM(cap) AS BIGINT) AS tt, COUNT(*) AS ns,
      |    CAST(SUM(cap) AS BIGINT) * 9 // 10 AS b
      |  FROM caps),
      |sorted AS (
      |  SELECT caps.*, tt, ns, b,
      |    ROW_NUMBER() OVER (ORDER BY cap, lang) AS idx,
      |    CAST(SUM(cap) OVER (ORDER BY cap, lang
      |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pc
      |  FROM caps CROSS JOIN tot),
      |m AS (
      |  SELECT COALESCE(MAX(CASE WHEN cap * (ns - idx) <= b - pc
      |    THEN idx END), 0) AS m
      |  FROM sorted),
      |pm AS (
      |  SELECT COALESCE(MAX(CASE WHEN idx <= m.m THEN pc END), 0) AS pm
      |  FROM sorted CROSS JOIN m),
      |fin AS (
      |  SELECT sorted.*, m.m, pm.pm,
      |    (b - pm.pm) // (ns - m.m) AS base,
      |    (b - pm.pm) % (ns - m.m) AS r
      |  FROM sorted CROSS JOIN m CROSS JOIN pm)
      |SELECT lang, cap AS cap_tokens,
      |  CAST(CASE WHEN idx <= m THEN cap
      |    ELSE base + CASE WHEN idx - m <= r THEN 1 ELSE 0 END END
      |    AS BIGINT) AS alloc_tokens,
      |  CASE WHEN idx <= m THEN 1 ELSE 0 END AS capped
      |FROM fin ORDER BY lang""".stripMargin

  /** L282 post-stratified estimation + design effect ([PK] classical
    * survey sampling, e.g. Cochran 1977 §5A): from q331's consistent
    * 1/16 hash sample of orders, estimate mean order value two ways —
    * the simple sample mean and the post-stratified mean
    * Σ_h (N_h/N)·ȳ_h re-weighted by POPULATION stratum counts (order
    * priority) — each with its SE, beside the TRUE population mean
    * the fixture makes knowable. The deff panel that decides whether
    * stratum re-weighting is worth it for a given slice at 100 TB
    * (here strata barely explain value variance, so post ≈ srs — the
    * honest null, and the SEs prove both LAND).
    *
    * Parity: membership is the q331 exact integer hash comparison;
    * all moments exact DECIMAL cents; the estimates/SEs fixed double
    * chains (2dp dollars / 4dp SEs).
    *
    * Scale: ONE fact scan computing population + sample stratum
    * moments side by side (the sample is a map-side predicate, q331's
    * point); a ≤5-row census aggregate after. No second scan. */
  def q348PostStratified(s: SparkSession, dir: String): DataFrame = {
    val inS = graft.ops.Kmv.hashCol(col("o_orderkey")) <
      graft.ops.Kmv.HashSpace / 16L
    val cents = Parity.quant(col("o_totalprice"), 100.0)
    val strat = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("h"), cents.as("v"),
        inS.cast("long").as("m"))
      .groupBy("h")
      .agg(count(lit(1)).as("nh"),
        sum(col("m")).as("mh"),
        sum(col("m") * col("v").cast(dec)).as("sh"),
        sum(col("m") * col("v").cast(dec) * col("v").cast(dec)).as("qh"))
    def f(c: Column) = c.cast("double")
    // per-stratum sample mean and variance (exact-moment identities)
    val sVar = (f(col("mh")) * f(col("qh")) - f(col("sh")) * f(col("sh"))) /
      f(col("mh")) / (f(col("mh")) - 1.0)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val t = strat
      .withColumn("nn", sum(col("nh")).over(w))
      .withColumn("nsamp", sum(col("mh")).over(w))
      .withColumn("stot", sum(col("sh")).over(w))
      .withColumn("qtot", sum(col("qh")).over(w))
      // nano-quantized per-stratum legs (q185 discipline); unobserved
      // (mh = 0) strata contribute 0 to the post mean and mh < 2 ones
      // 0 to its variance — a NaN here would cast divergently across
      // engines, and the bias is visible in the error columns anyway
      .withColumn("post9", when(col("mh") >= 1L,
        Parity.quant(f(col("nh")) / f(col("nn")) *
          (f(col("sh")) / f(col("mh"))), 1e9))
        .otherwise(0L))
      // variance legs are cents-squared scale (~1e11): a nano quantum
      // overflows int64 (measured at sf0.01), so they carry 1e4
      .withColumn("pvar4", when(col("mh") >= 2L,
        Parity.quant(f(col("nh")) / f(col("nn")) *
          (f(col("nh")) / f(col("nn"))) * sVar / f(col("mh")), 1e4))
        .otherwise(0L))
    val popMean = Tables.orders(s, dir)
      .agg((sum(cents.cast(dec)).cast("double") /
        count(lit(1)).cast("double")).as("truec"))
    val m = t.agg(max(col("nn")).as("npop"), max(col("nsamp")).as("ns"),
        max(col("stot")).as("st"), max(col("qtot")).as("qt"),
        sum(col("post9")).as("sp9"), sum(col("pvar4")).as("sv4"))
      .crossJoin(broadcast(popMean))
    val srsMean = f(col("st")) / f(col("ns"))
    val srsVar = (f(col("ns")) * f(col("qt")) - f(col("st")) *
      f(col("st"))) / f(col("ns")) / (f(col("ns")) - 1.0)
    val fpc = lit(1.0) - f(col("ns")) / f(col("npop"))
    def d2(c: Column) = Parity.fix(c / 100.0, 2)
    def d4(c: Column) = Parity.fix(c / 100.0, 4)
    val thin = col("ns") < 2L
    m.select(col("npop").cast("long").as("n_pop"),
      col("ns").cast("long").as("n_sample"),
      d2(col("truec")).as("true_mean"),
      when(thin, lit(null).cast("double"))
        .otherwise(d2(srsMean)).as("srs_mean"),
      when(thin, lit(null).cast("double"))
        .otherwise(d2(col("sp9").cast("double") / 1e9)).as("post_mean"),
      when(thin, lit(null).cast("double"))
        .otherwise(d4(sqrt(srsVar / f(col("ns")) * fpc))).as("se_srs"),
      when(thin, lit(null).cast("double"))
        .otherwise(d4(sqrt(col("sv4").cast("double") / 1e4)))
        .as("se_post"))
  }

  val q348PostStratifiedSql: String = {
    val hv = graft.ops.Kmv.hashSql("o_orderkey")
    s"""WITH o AS (
       |  SELECT o_orderpriority AS h,
       |    CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS v,
       |    CASE WHEN $hv
       |      < 281474976710656 // 16 THEN 1 ELSE 0 END AS m
       |  FROM orders),
       |strat AS (
       |  SELECT h, COUNT(*) AS nh, CAST(SUM(m) AS BIGINT) AS mh,
       |    CAST(SUM(m * CAST(v AS HUGEINT)) AS HUGEINT) AS sh,
       |    CAST(SUM(m * CAST(v AS HUGEINT) * v) AS HUGEINT) AS qh
       |  FROM o GROUP BY h),
       |t AS (
       |  SELECT *,
       |    CAST(SUM(nh) OVER () AS BIGINT) AS nn,
       |    CAST(SUM(mh) OVER () AS BIGINT) AS nsamp,
       |    CAST(SUM(sh) OVER () AS HUGEINT) AS stot,
       |    CAST(SUM(qh) OVER () AS HUGEINT) AS qtot
       |  FROM strat),
       |t2 AS (
       |  SELECT *,
       |    CASE WHEN mh >= 1 THEN
       |      ${Parity.quantSql("CAST(nh AS DOUBLE) / nn * (CAST(sh AS DOUBLE) / mh)", 9)}
       |      ELSE 0 END AS post9,
       |    CASE WHEN mh >= 2 THEN
       |      ${Parity.quantSql("CAST(nh AS DOUBLE) / nn" +
                                " * (CAST(nh AS DOUBLE) / nn)" +
                                " * ((CAST(mh AS DOUBLE) * CAST(qh AS DOUBLE)" +
                                " - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE))" +
                                " / CAST(mh AS DOUBLE) / (CAST(mh AS DOUBLE) - 1.0))" +
                                " / CAST(mh AS DOUBLE)", 4)}
       |      ELSE 0 END AS pvar4
       |  FROM t),
       |pm AS (
       |  SELECT CAST(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5)
       |      AS HUGEINT)) AS DOUBLE) / COUNT(*) AS truec
       |  FROM orders),
       |m AS (
       |  SELECT CAST(MAX(nn) AS BIGINT) AS npop,
       |    CAST(MAX(nsamp) AS BIGINT) AS ns,
       |    CAST(MAX(stot) AS HUGEINT) AS st,
       |    CAST(MAX(qtot) AS HUGEINT) AS qt,
       |    CAST(SUM(post9) AS BIGINT) AS sp9,
       |    CAST(SUM(pvar4) AS BIGINT) AS sv4
       |  FROM t2),
       |fin AS (
       |  SELECT *,
       |    CAST(st AS DOUBLE) / ns AS srsmean,
       |    (CAST(ns AS DOUBLE) * CAST(qt AS DOUBLE)
       |      - CAST(st AS DOUBLE) * CAST(st AS DOUBLE))
       |      / CAST(ns AS DOUBLE) / (CAST(ns AS DOUBLE) - 1.0) AS srsvar,
       |    1.0 - CAST(ns AS DOUBLE) / npop AS fpc
       |  FROM m CROSS JOIN pm)
       |SELECT npop AS n_pop, ns AS n_sample,
       |  ${Parity.fixSql("truec / 100.0", 2)} + 0 AS true_mean,
       |  CASE WHEN ns < 2 THEN NULL
       |    ELSE ${Parity.fixSql("srsmean / 100.0", 2)} + 0 END
       |    AS srs_mean,
       |  CASE WHEN ns < 2 THEN NULL
       |    ELSE ${Parity.fixSql("CAST(sp9 AS DOUBLE) / 1e9 / 100.0", 2)}
       |      + 0 END AS post_mean,
       |  CASE WHEN ns < 2 THEN NULL
       |    ELSE ${Parity.fixSql("SQRT(srsvar / CAST(ns AS DOUBLE) * fpc) / 100.0", 4)}
       |      + 0 END AS se_srs,
       |  CASE WHEN ns < 2 THEN NULL
       |    ELSE ${Parity.fixSql("SQRT(CAST(sv4 AS DOUBLE) / 1e4) / 100.0", 4)}
       |      + 0 END AS se_post
       |FROM fin""".stripMargin
  }

  /** L315 Kish design effect / effective sample size ([PK] Kish
    * 1965 §8.2): when observations carry unequal weights (here: order
    * value as an importance weight — the DSIR/mixing regime of q313/
    * q86), the variance of a weighted mean behaves as if only
    * n_eff = (Σw)²/Σw² observations existed; deff = n/n_eff is the
    * inflation factor every weighted-sample SE must carry. Per market
    * segment: n, n_eff, deff, and the weight coefficient of variation
    * that drives it (deff = 1 + cv² exactly — pinned in the spec).
    *
    * Parity: Σw and Σw² are exact DECIMAL(38)/HUGEINT sums of exact
    * cents; n_eff/deff/cv one fixed double chain each, 4dp.
    *
    * Scale: one broadcast-dim fact agg (map-side combinable), 5-row
    * output. */
  def q380KishNeff(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment").as("segment"))
    val m = Tables.orders(s, dir)
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(col("segment"),
        Parity.quant(col("o_totalprice"), 100.0).as("w"))
      .groupBy("segment")
      .agg(count(lit(1)).as("n"),
        sum(col("w").cast(dec)).as("sw"),
        sum((col("w") * col("w")).cast(dec)).as("sw2"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    val neff = dd("sw") * dd("sw") / greatest(dd("sw2"), lit(1e-300))
    val deff = n * dd("sw2") /
      greatest(dd("sw") * dd("sw"), lit(1e-300))
    val cv2 = n * dd("sw2") /
      greatest(dd("sw") * dd("sw"), lit(1e-300)) - 1.0
    val bad = col("n") < 10L || col("sw2") <= 0L
    def guard(c: Column) = when(bad, lit(null).cast("double"))
      .otherwise(Parity.fix(c, 4))
    m.select(col("segment"), col("n"),
        guard(neff).as("n_eff"), guard(deff).as("deff"),
        guard(cv2).as("cv2_weights"))
      .orderBy("segment")
  }

  val q380KishNeffSql: String =
    s"""WITH m AS (
      |  SELECT c_mktsegment AS segment, COUNT(*) AS n,
      |    SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |      AS HUGEINT)) AS sw,
      |    SUM(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |        AS HUGEINT)
      |      * CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
      |        AS HUGEINT)) AS sw2
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1)
      |SELECT segment, CAST(n AS BIGINT) AS n,
      |  CASE WHEN n < 10 OR sw2 <= 0 THEN NULL ELSE
      |    ${Parity.fixSql("CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE)" +
                           " / GREATEST(CAST(sw2 AS DOUBLE), 1e-300)", 4)}
      |      + 0 END AS n_eff,
      |  CASE WHEN n < 10 OR sw2 <= 0 THEN NULL ELSE
      |    ${Parity.fixSql("CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE)" +
                           " / GREATEST(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE), 1e-300)", 4)}
      |      + 0 END AS deff,
      |  CASE WHEN n < 10 OR sw2 <= 0 THEN NULL ELSE
      |    ${Parity.fixSql("(CAST(n AS DOUBLE) * CAST(sw2 AS DOUBLE)" +
                           " / GREATEST(CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE), 1e-300)" +
                           " - 1.0)", 4)}
      |      + 0 END AS cv2_weights
      |FROM m ORDER BY segment""".stripMargin
}
