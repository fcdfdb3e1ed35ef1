package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-3 corpus-curation operators, both oracle-gated: the dedup
  * pipeline run END TO END (LSH candidates → verified near-dup pairs →
  * transitive clusters → keep-one-per-cluster retention report), and a
  * within-document repetition quality filter.
  *
  * Scale notes: q90 composes only sub-quadratic pieces — q51's band-key
  * candidate join (candidates ∝ true near-dups) and the iterative
  * min-label propagation (one hash join per round, shallow dedup
  * clusters converge in 3–5 rounds). The cluster-label table is tiny
  * relative to the corpus (∝ docs that HAVE a near-dup), so the final
  * labeling join broadcasts. q91 is a pure per-row map — embarrassingly
  * parallel, no shuffle until the final order.
  *
  * Round 12 split the file along its natural families (it had grown to
  * ~4,000 lines): hypothesis tests → [[HypothesisTestQueries]], privacy
  * audits → [[PrivacyQueries]], drift/profiling → [[DriftQueries]].
  * This file keeps the curation-pipeline operators proper (dedup
  * clusters, caps/filters, golden records, fills, gopher rules, TOPSIS).
  */
object CurationQueries {

  /** The full near-dup dedup pipeline as one operator: q51's verified
    * MinHash/LSH pairs (jaccard ≥ 0.8) transitively closed into
    * clusters, every document labeled with its cluster canonical (the
    * smallest doc_id — unpaired docs are their own canonical), and the
    * per-language retention reported: of n_docs, how many survive
    * keep-one-per-cluster dedup. This is exactly the pre-training
    * curation step "dedup the crawl, keep one representative per
    * near-dup cluster, report what it cost each language's share". */
  def q90DedupClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.q51MinHashLsh(s, dir).select("doc_a", "doc_b")
    val comp = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"))
    // labels exist only for docs in some near-dup pair — a small table
    // next to the corpus at any scale, so broadcast the labeling join
    d.join(broadcast(comp), col("doc_id") === col("id"), "left")
      .withColumn("canonical", coalesce(col("component"), col("doc_id")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("doc_id") === col("canonical"), 1L).otherwise(0L))
          .as("n_kept"))
      .orderBy("lang")
  }

  /** DuckDB mirror: q51's pair SQL (ORDER BY stripped) → RECURSIVE CTE
    * transitive closure → min-reachable label per doc → the same
    * left-join + retention aggregate. CAST(SUM AS BIGINT): DuckDB
    * widens integer SUM to HUGEINT → pandas float64 otherwise. */
  val q90DedupClustersSql: String =
    """WITH RECURSIVE
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |""".stripMargin +
      DedupQueries.q51MinHashLshSql.linesIterator
        .filter(!_.startsWith("ORDER BY")).mkString("\n") +
    """
      |  )),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |closure(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src),
      |lbl AS (
      |  SELECT src AS id, MIN(r) AS component FROM (
      |    SELECT src, dst AS r FROM closure
      |    UNION ALL SELECT src, src FROM edges)
      |  GROUP BY src)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN COALESCE(l.component, d.doc_id) = d.doc_id
      |       THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  /** Within-document repetition quality filter — the "degenerate doc"
    * detector (boilerplate, keyboard mash, template spam): fraction of
    * a document's word bigrams that are repeats of an earlier bigram in
    * the same document. Flags docs with ≥ 5% repeated bigrams. Uses the
    * codegen'd bigram kernel; counts cast to long so both engines emit
    * identical int64 columns. */
  def q91Repetition(s: SparkSession, dir: String): DataFrame = {
    val bg = graft.functions.SimFns.wordBigrams(col("text"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(bg).cast("long").as("n_bigrams"),
        size(array_distinct(bg)).cast("long").as("n_unique"))
      .filter(col("n_bigrams") > 0)
      .withColumn("rep_ratio",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_bigrams"), 4))
      .filter(col("rep_ratio") >= 0.05)
      .select("doc_id", "lang", "n_bigrams", "n_unique", "rep_ratio")
      .orderBy("doc_id")
  }

  /** Per-source document cap — the "domain cap" every crawl-curation
    * pipeline applies so no single site dominates the corpus: keep at
    * most `cap` documents per source, chosen by a deterministic per-row
    * hash rank (reproducible under any partitioning — no rand(), same
    * multiplicative-hash discipline as q71/q72/q86). Emits the kept
    * (source, doc_id, rank) rows, so the oracle pins the exact choice,
    * not just the counts. One keyed window — a single shuffle at any
    * corpus size; at 100 TB `source` is the natural high-cardinality
    * partition key (millions of domains), so no skew concern short of
    * one domain owning the corpus.
    *
    * Overflow discipline: the id is modular-reduced BEFORE the multiply
    * ([[capHash]]), so the intermediate is bounded by (p−1)·2654435761
    * ≈ 2.65e18 < Long.MaxValue for ANY 64-bit id. The naive
    * `id * 2654435761 + c` form wraps silently in Spark (non-ANSI) but
    * raises BIGINT-out-of-range in DuckDB at id ≈ 3.5e9, breaking the
    * cross-engine parity this oracle pins; PropertySpec proves the
    * reduced form against BigInt arithmetic across the full Long range. */
  def q92SourceCap(s: SparkSession, dir: String): DataFrame = {
    val cap = 15
    val d = Tables.documents(s, dir)
    val h = capHash(col("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
    d.withColumn("h", h)
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= cap)
      .select(col("source"), col("doc_id"), col("rnk"))
      .orderBy("source", "rnk")
  }

  /** q92's rank hash, shared with PropertySpec: pmod-reduce the id
    * first, then multiply — identical values to the naive form for all
    * ids in [0, p) (every fixture id), but safe for the full Long range
    * on both engines. */
  private[graft] def capHash(id: Column): Column =
    pmod(pmod(id, lit(1000000007L)) * 2654435761L + 104729L, lit(1000000007L))

  val q92SourceCapSql: String =
    """SELECT source, doc_id, rnk FROM (
      |  SELECT source, doc_id,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |      ORDER BY (((doc_id % 1000000007 + 1000000007) % 1000000007)
      |                * 2654435761 + 104729) % 1000000007, doc_id) AS rnk
      |  FROM documents)
      |WHERE rnk <= 15
      |ORDER BY source, rnk""".stripMargin

  /** Per-language percentile length filter — the length-outlier cut
    * (truncated boilerplate on the left tail, concatenation junk on the
    * right): keep documents whose token count lies within [p5, p95] OF
    * THEIR LANGUAGE, thresholds derived from the data. Exact
    * interpolated percentiles (Spark `percentile` == DuckDB
    * `quantile_cont`, parity proven by q15); the per-lang threshold
    * table is tiny → broadcast join, corpus never reshuffles.
    *
    * Scale note: exact `percentile` buffers each group's values in the
    * agg buffer — right for the oracle (bit-exact thresholds), wrong
    * for billions of rows per language. At 100 TB swap the `cuts` agg
    * for `approx_percentile(n_tok, array(0.05, 0.95), accuracy)` — one
    * pass, bounded-memory sketch, same broadcast shape downstream; the
    * cut values move by at most 1/accuracy quantile mass. */
  def q93LengthFilter(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.tokens
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tok"))
    val cuts = d.groupBy("lang")
      .agg(expr("percentile(n_tok, 0.05)").as("p5"),
        expr("percentile(n_tok, 0.95)").as("p95"))
    d.join(broadcast(cuts), "lang")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_tok") >= col("p5") && col("n_tok") <= col("p95"), 1L)
          .otherwise(0L)).as("n_kept"),
        round(first(col("p5")), 4).as("p5"),
        round(first(col("p95")), 4).as("p95"))
      .orderBy("lang")
  }

  val q93LengthFilterSql: String =
    """WITH d AS (
      |  SELECT doc_id, lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      |  FROM documents),
      |cuts AS (
      |  SELECT lang, quantile_cont(n_tok, 0.05) AS p5,
      |         quantile_cont(n_tok, 0.95) AS p95
      |  FROM d GROUP BY lang)
      |SELECT d.lang, COUNT(*) AS n_docs,
      |  CAST(SUM(CASE WHEN n_tok >= p5 AND n_tok <= p95 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_kept,
      |  ROUND(ANY_VALUE(p5), 4) AS p5, ROUND(ANY_VALUE(p95), 4) AS p95
      |FROM d JOIN cuts ON d.lang = cuts.lang
      |GROUP BY d.lang
      |ORDER BY d.lang""".stripMargin

  /** Golden-record survivorship — the master-data step of a data
    * integration pipeline: the same entity arrives from several feeds
    * with different quality and gaps; the golden record takes, per
    * FIELD, the first non-null value by feed priority. Feeds here are
    * deterministic derivations of customer: feed 1 (authoritative) with
    * deterministic nulls punched in (key%7 names, key%5 balances),
    * feed 2 (secondary) complete but degraded (lowercased names,
    * rounded balances). Survivorship is one groupBy with a
    * `min(when(nonNull, struct(prio, v)))` per field — null-skipping
    * argmin as a single map-side-combinable aggregation, one shuffle
    * at any scale, no window, no self-join. */
  def q94GoldenRecord(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val feed1 = c.select(col("c_custkey"), lit(1).as("prio"),
      when(col("c_custkey") % 7 =!= 0, col("c_name")).as("name"),
      when(col("c_custkey") % 5 =!= 0, col("c_acctbal")).as("bal"))
    val feed2 = c.select(col("c_custkey"), lit(2).as("prio"),
      lower(col("c_name")).as("name"),
      round(col("c_acctbal")).as("bal"))
    def survive(v: Column, as: String): Column =
      min(when(v.isNotNull, struct(col("prio"), v.as("v")))).getField("v").as(as)
    feed1.unionByName(feed2)
      .groupBy("c_custkey")
      .agg(survive(col("name"), "name"), survive(col("bal"), "bal"))
      .orderBy("c_custkey")
  }

  val q94GoldenRecordSql: String =
    """WITH feeds AS (
      |  SELECT c_custkey, 1 AS prio,
      |    CASE WHEN c_custkey % 7 <> 0 THEN c_name END AS name,
      |    CASE WHEN c_custkey % 5 <> 0 THEN c_acctbal END AS bal
      |  FROM customer
      |  UNION ALL
      |  SELECT c_custkey, 2 AS prio, lower(c_name) AS name,
      |    round(c_acctbal) AS bal
      |  FROM customer)
      |SELECT c_custkey,
      |  arg_min(name, prio) FILTER (WHERE name IS NOT NULL) AS name,
      |  arg_min(bal, prio) FILTER (WHERE bal IS NOT NULL) AS bal
      |FROM feeds
      |GROUP BY c_custkey
      |ORDER BY c_custkey""".stripMargin

  /** Forward-fill (LOCF) over a densified daily series — the pandas
    * `ffill` primitive re-expressed relationally: build the q79 date
    * spine per priority, leave missing days NULL, then carry the last
    * observation forward with `last(_, ignoreNulls)` over a keyed
    * running frame, plus the staleness age in days. One keyed window —
    * a single shuffle; the spine is calendar-bounded regardless of fact
    * volume. Leading days before the first observation stay NULL (no
    * backfill), exactly pandas semantics. */
  def q95ForwardFill(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val o = Tables.orders(s, dir)
    val span = o.agg(min(to_date(col("o_orderdate"))).as("d0"),
      max(to_date(col("o_orderdate"))).as("d1"))
    val spine = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val prios = o.select("o_orderpriority").distinct()
    val daily = o.groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(sum(dm(col("o_totalprice"))).as("rev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    spine.crossJoin(prios)
      .join(daily, Seq("day", "o_orderpriority"), "left")
      .withColumn("rev_filled", last(col("rev"), ignoreNulls = true).over(w))
      .withColumn("obs_day",
        last(when(col("rev").isNotNull, col("day")), ignoreNulls = true).over(w))
      .select(col("day"), col("o_orderpriority"),
        dec4(col("rev_filled")).as("rev_filled"),
        // long: DuckDB date_diff returns BIGINT, Spark datediff INT
        datediff(col("day"), col("obs_day")).cast("long").as("staleness_days"))
      .orderBy("day", "o_orderpriority")
  }

  val q95ForwardFillSql: String = {
    import Parity._
    s"""WITH span AS (
       |  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
       |         MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
       |days AS (
       |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
       |prios AS (SELECT DISTINCT o_orderpriority FROM orders),
       |daily AS (
       |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
       |    SUM(CAST(o_totalprice AS $DM)) AS rev
       |  FROM orders GROUP BY 1, 2),
       |sparse AS (
       |  SELECT day, o_orderpriority, rev
       |  FROM days CROSS JOIN prios
       |  LEFT JOIN daily USING (day, o_orderpriority))
       |SELECT day, o_orderpriority,
       |  ${out4("""last_value(rev IGNORE NULLS) OVER (
       |    PARTITION BY o_orderpriority ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""")} AS rev_filled,
       |  date_diff('day',
       |    last_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS) OVER (
       |      PARTITION BY o_orderpriority ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
       |    day) AS staleness_days
       |FROM sparse
       |ORDER BY day, o_orderpriority""".stripMargin
  }

  /** Linear interpolation between observations — pandas
    * `interpolate(method='linear')` relationally: on the q95 sparse
    * series, a missing day takes
    * prev + (next − prev) · elapsed/gap, where prev/next come from a
    * backward `last(ignoreNulls)` and a forward `first(ignoreNulls)`
    * window over the SAME keyed sort (one shuffle, one sort, two frame
    * passes). Leading/trailing gaps (no prev or no next) stay NULL.
    * The lerp runs in double on both engines from identical decimal
    * inputs and integer day distances, so rounding to 4 is stable. */
  def q96Interpolate(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val span = o.agg(min(to_date(col("o_orderdate"))).as("d0"),
      max(to_date(col("o_orderdate"))).as("d1"))
    val spine = span.select(explode(sequence(col("d0"), col("d1"))).as("day"))
    val prios = o.select("o_orderpriority").distinct()
    val daily = o.groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(sum(dm(col("o_totalprice"))).cast("double").as("rev"))
    val back = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val prevRev = last(col("rev"), ignoreNulls = true).over(back)
    val prevDay = last(when(col("rev").isNotNull, col("day")),
      ignoreNulls = true).over(back)
    val nextRev = first(col("rev"), ignoreNulls = true).over(fwd)
    val nextDay = first(when(col("rev").isNotNull, col("day")),
      ignoreNulls = true).over(fwd)
    val lerp = prevRev + (nextRev - prevRev) *
      (datediff(col("day"), prevDay).cast("double") /
        datediff(nextDay, prevDay).cast("double"))
    spine.crossJoin(prios)
      .join(daily, Seq("day", "o_orderpriority"), "left")
      // floor-quantize, not round(,4): Spark rounds the double's
      // shortest DECIMAL repr half-up while DuckDB rounds the BINARY
      // value, so an interpolated .xxxx5 boundary flips between them
      // (r12 fuzz find); the floor grid is identical on both
      .withColumn("rev_interp",
        Parity.fix(when(col("rev").isNotNull, col("rev")).otherwise(lerp), 4))
      .select("day", "o_orderpriority", "rev_interp")
      .orderBy("day", "o_orderpriority")
  }

  val q96InterpolateSql: String =
    """WITH span AS (
      |  SELECT MIN(CAST(o_orderdate AS DATE)) AS d0,
      |         MAX(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM span),
      |prios AS (SELECT DISTINCT o_orderpriority FROM orders),
      |daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1, 2),
      |sparse AS (
      |  SELECT day, o_orderpriority, rev
      |  FROM days CROSS JOIN prios
      |  LEFT JOIN daily USING (day, o_orderpriority)),
      |ctx AS (
      |  SELECT day, o_orderpriority, rev,
      |    last_value(rev IGNORE NULLS) OVER bk AS prev_rev,
      |    last_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER bk AS prev_day,
      |    first_value(rev IGNORE NULLS) OVER fw AS next_rev,
      |    first_value(CASE WHEN rev IS NOT NULL THEN day END IGNORE NULLS)
      |      OVER fw AS next_day
      |  FROM sparse
      |  WINDOW
      |    bk AS (PARTITION BY o_orderpriority ORDER BY day
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    fw AS (PARTITION BY o_orderpriority ORDER BY day
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
      |SELECT day, o_orderpriority,
      |  FLOOR((CASE WHEN rev IS NOT NULL THEN rev
      |    ELSE prev_rev + (next_rev - prev_rev) *
      |      (CAST(date_diff('day', prev_day, day) AS DOUBLE) /
      |       CAST(date_diff('day', prev_day, next_day) AS DOUBLE)) END)
      |    * 1e4 + 0.5) / 1e4 AS rev_interp
      |FROM ctx
      |ORDER BY day, o_orderpriority""".stripMargin

  /** Rolling z-score anomaly flags — the monitoring op a pipeline runs
    * over its own daily volumes: each (priority, day) revenue scored
    * against its trailing 30-observation mean/stddev; |z| > 2 flags an
    * anomaly. One keyed window, map-side nothing — same single-shuffle
    * discipline as every series op here. The first row of each key has
    * no sample stddev (NULL z, never flagged), and a zero-variance
    * window yields NULL via nullif — identical on both engines. */
  def q97Anomaly(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    val daily = o.groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(sum(dm(col("o_totalprice"))).cast("double").as("rev"))
    val w = Window.partitionBy(col("o_orderpriority")).orderBy(col("day"))
      .rowsBetween(-29, Window.currentRow)
    val z = (col("rev") - avg(col("rev")).over(w)) /
      nullif(stddev_samp(col("rev")).over(w), lit(0.0))
    daily.withColumn("z", round(z, 4))
      .withColumn("is_anomaly",
        when(col("z").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z")) > 2.0))
      .select("day", "o_orderpriority", "z", "is_anomaly")
      .orderBy("day", "o_orderpriority")
  }

  val q97AnomalySql: String =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DOUBLE) AS rev
      |  FROM orders GROUP BY 1, 2),
      |scored AS (
      |  SELECT day, o_orderpriority,
      |    ROUND((rev - avg(rev) OVER w) / nullif(stddev_samp(rev) OVER w, 0.0), 4) AS z
      |  FROM daily
      |  WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day
      |               ROWS BETWEEN 29 PRECEDING AND CURRENT ROW))
      |SELECT day, o_orderpriority, z,
      |  CASE WHEN z IS NULL THEN NULL ELSE abs(z) > 2.0 END AS is_anomaly
      |FROM scored
      |ORDER BY day, o_orderpriority""".stripMargin

  /** Equal-frequency (quantile) binning — pandas `qcut`, the partner of
    * q88's equal-width histogram: rank every order price into deciles
    * under a deterministic total order (price, then key — bucket ties
    * would otherwise be engine-dependent), then profile each bin.
    *
    * Exact NTILE semantics WITHOUT the single-reducer sort (the oracle
    * SQL keeps `NTILE(10)` as the semantic spec) via [[RangedNtile]] —
    * range-partitioned parallel rank + the front-loaded bucket formula;
    * see that op's scaladoc for the full plan story. The old
    * `ntile(10) OVER (ORDER BY …)` form pulled the whole fact table
    * through one partition (the suite's last single-reducer sort,
    * VERDICT r5). When sketch-exact bucket populations suffice,
    * [[AppxQcut]] does the same binning with ZERO shuffles. */
  def q98Qcut(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_totalprice"), col("o_orderkey"))
    RangedNtile.withNtile(o, 10,
        Seq(col("o_totalprice"), col("o_orderkey")), "decile")
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        round(min(col("o_totalprice")), 4).as("lo"),
        round(max(col("o_totalprice")), 4).as("hi"))
      .orderBy("decile")
  }

  val q98QcutSql: String =
    """SELECT decile, COUNT(*) AS n,
      |  ROUND(MIN(o_totalprice), 4) AS lo,
      |  ROUND(MAX(o_totalprice), 4) AS hi
      |FROM (
      |  SELECT o_totalprice,
      |    NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      |  FROM orders)
      |GROUP BY decile
      |ORDER BY decile""".stripMargin

  val q91RepetitionSql: String =
    """SELECT doc_id, lang, n_bigrams, n_unique,
      |  ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_bigrams, 4) AS rep_ratio
      |FROM (
      |  SELECT doc_id, lang,
      |    CAST(len(bg) AS BIGINT) AS n_bigrams,
      |    CAST(len(list_distinct(bg)) AS BIGINT) AS n_unique
      |  FROM (
      |    SELECT doc_id, lang,
      |      CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |        ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END AS bg
      |    FROM documents))
      |WHERE n_bigrams > 0
      |  AND ROUND(1.0 - CAST(n_unique AS DOUBLE) / n_bigrams, 4) >= 0.05
      |ORDER BY doc_id""".stripMargin

  /** Exponentially weighted moving average over the daily revenue
    * series — pandas `ewm(alpha=0.2).mean()` / the classic exponential
    * smoother, the recursive partner of q97's trailing-window z-score:
    * e_1 = rev_1, e_t = 0.2·rev_t + 0.8·e_{t−1}. A recursion is not a
    * window frame, so the series is assembled per key (array_sort of
    * (day, rev) structs — the q113 path-assembly discipline) and folded
    * with `aggregate`, carrying (prefix-EWMAs, last) through one linear
    * pass; both engines evaluate the same `0.2·x + 0.8·e` tree left to
    * right over the same day order, so the doubles are bit-identical
    * before the final round(4).
    *
    * Scale: one (day, priority) hash agg (map-side combinable) then one
    * priority-keyed shuffle; per-group state is linear in the series
    * length, which is calendar-bounded (the q79/q95 contract — a year
    * slice here keeps the DuckDB recursive-CTE oracle shallow). For
    * unbounded/streaming series the same recurrence runs in
    * transformWithState (T6) with one double of state per key. */
  def q115Ewma(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01"))
    val daily = o.groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(sum(dm(col("o_totalprice"))).cast("double").as("rev"))
    val series = daily.groupBy("o_orderpriority")
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("s"))
    val folded = series.withColumn("es", expr(
      """aggregate(s,
        |  struct(cast(array() as array<double>) AS es,
        |         cast(null as double) AS e),
        |  (acc, x) -> struct(
        |    array_append(acc.es,
        |      CASE WHEN acc.e IS NULL THEN x.rev
        |           ELSE 0.2D * x.rev + 0.8D * acc.e END),
        |    CASE WHEN acc.e IS NULL THEN x.rev
        |         ELSE 0.2D * x.rev + 0.8D * acc.e END),
        |  acc -> acc.es)""".stripMargin))
    folded
      .select(col("o_orderpriority"),
        explode(arrays_zip(col("s"), col("es"))).as("z"))
      .select(col("z.s.day").as("day"), col("o_orderpriority"),
        round(col("z.s.rev"), 4).as("rev"),
        round(col("z.es"), 4).as("ewma"))
      .orderBy("day", "o_orderpriority")
  }

  val q115EwmaSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority AS pr,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DOUBLE) AS rev
      |  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT day, pr, rev,
      |    ROW_NUMBER() OVER (PARTITION BY pr ORDER BY day) AS rn
      |  FROM daily),
      |e AS (
      |  SELECT day, pr, rev, rn, rev AS ewma FROM s WHERE rn = 1
      |  UNION ALL
      |  SELECT s.day, s.pr, s.rev, s.rn,
      |    CAST(0.2 AS DOUBLE) * s.rev + CAST(0.8 AS DOUBLE) * e.ewma
      |  FROM s JOIN e ON s.pr = e.pr AND s.rn = e.rn + 1)
      |SELECT day, pr AS o_orderpriority, ROUND(rev, 4) AS rev,
      |  ROUND(ewma, 4) AS ewma
      |FROM e ORDER BY day, o_orderpriority""".stripMargin

  /** Holt linear (double-exponential) smoothing — q115's EWMA tracks a
    * level only and lags any trending series by design; Holt adds the
    * coupled trend recurrence (level ℓ_t = α·x + (1−α)(ℓ+b), trend
    * b_t = β·Δℓ + (1−β)b), giving the one-step forecast ℓ+b a trending
    * daily-revenue series actually needs. α=0.3, β=0.1, ℓ₁=x₁, b₁=0.
    *
    * Parity: the fold evaluates the identical expression tree step by
    * step in both engines, so the doubles are bit-identical by
    * induction (the q115 contract, two state variables instead of
    * one); rounding happens only at output.
    *
    * Scale: identical to q115 — one keyed shuffle, per-group state
    * linear in the calendar-bounded series; the streaming form is the
    * same recurrence in transformWithState with two doubles of state
    * per key. */
  def q143Holt(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01"))
    val daily = o.groupBy(to_date(col("o_orderdate")).as("day"),
        col("o_orderpriority"))
      .agg(sum(dm(col("o_totalprice"))).cast("double").as("rev"))
    val series = daily.groupBy("o_orderpriority")
      .agg(array_sort(collect_list(struct(col("day"), col("rev")))).as("s"))
    val folded = series.withColumn("hs", expr(
      """aggregate(s,
        |  struct(cast(array() as array<struct<l: double, b: double>>) AS hs,
        |         cast(null as double) AS l, cast(null as double) AS b),
        |  (acc, x) -> CASE WHEN acc.l IS NULL THEN
        |      struct(array_append(acc.hs, struct(x.rev AS l, 0.0D AS b)) AS hs,
        |             x.rev AS l, cast(0.0D as double) AS b)
        |    ELSE struct(
        |      array_append(acc.hs, struct(
        |        0.3D * x.rev + 0.7D * (acc.l + acc.b) AS l,
        |        0.1D * ((0.3D * x.rev + 0.7D * (acc.l + acc.b)) - acc.l)
        |          + 0.9D * acc.b AS b)) AS hs,
        |      0.3D * x.rev + 0.7D * (acc.l + acc.b) AS l,
        |      0.1D * ((0.3D * x.rev + 0.7D * (acc.l + acc.b)) - acc.l)
        |        + 0.9D * acc.b AS b) END,
        |  acc -> acc.hs)""".stripMargin))
    folded
      .select(col("o_orderpriority"),
        explode(arrays_zip(col("s"), col("hs"))).as("z"))
      // floor-quantized at 4dp (q96 rationale — the smoothing recursion
      // lands on .xxxx5 decimal boundaries under hostile inputs)
      .select(col("z.s.day").as("day"), col("o_orderpriority"),
        Parity.fix(col("z.s.rev"), 4).as("rev"),
        Parity.fix(col("z.hs.l"), 4).as("level"),
        Parity.fix(col("z.hs.b"), 4).as("trend"),
        Parity.fix(col("z.hs.l") + col("z.hs.b"), 4)
          .as("forecast"))
      .orderBy("day", "o_orderpriority")
  }

  val q143HoltSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day, o_orderpriority AS pr,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DOUBLE) AS rev
      |  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
      |  GROUP BY 1, 2),
      |s AS (
      |  SELECT day, pr, rev,
      |    ROW_NUMBER() OVER (PARTITION BY pr ORDER BY day) AS rn
      |  FROM daily),
      |h AS (
      |  SELECT day, pr, rev, rn, rev AS lvl, CAST(0 AS DOUBLE) AS tr
      |  FROM s WHERE rn = 1
      |  UNION ALL
      |  SELECT s.day, s.pr, s.rev, s.rn,
      |    CAST(0.3 AS DOUBLE) * s.rev
      |      + CAST(0.7 AS DOUBLE) * (h.lvl + h.tr),
      |    CAST(0.1 AS DOUBLE) * ((CAST(0.3 AS DOUBLE) * s.rev
      |        + CAST(0.7 AS DOUBLE) * (h.lvl + h.tr)) - h.lvl)
      |      + CAST(0.9 AS DOUBLE) * h.tr
      |  FROM s JOIN h ON s.pr = h.pr AND s.rn = h.rn + 1)
      |SELECT day, pr AS o_orderpriority,
      |  FLOOR(rev * 1e4 + 0.5) / 1e4 AS rev,
      |  FLOOR(lvl * 1e4 + 0.5) / 1e4 AS level,
      |  FLOOR(tr * 1e4 + 0.5) / 1e4 AS trend,
      |  FLOOR((lvl + tr) * 1e4 + 0.5) / 1e4 AS forecast
      |FROM h ORDER BY day, o_orderpriority""".stripMargin

  /** Robust outlier detection by median absolute deviation — q97's
    * z-score flags drown when the contamination itself inflates the
    * mean/stddev; median and MAD have a 50% breakdown point, the
    * standard robust screen for corrupt numeric feeds. Exact medians
    * (A10 precedent: Spark `percentile` == DuckDB `quantile_cont`,
    * both linear-interpolating), outlier when |v − med| > 3·MAD.
    *
    * Scale: two grouped exact percentiles (sort within the event_type
    * partitions) and two broadcasts of the 5-row per-type stats back
    * to the fact rows — no global sort, no self-join. For a
    * high-cardinality key the exact percentile becomes the bottleneck
    * and `percentile_approx`/KLL is the drop-in (A5-style trade). */
  def q107RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
    val med = e.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type", "med")
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    dev.join(broadcast(mad.select("event_type", "mad")), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        round(first(col("med")), 4).as("med"),
        round(first(col("mad")), 4).as("mad"),
        count(when(col("dev") > col("mad") * 3, 1)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** Winsorized robust scaling — clamp each value to its group's exact
    * [p05, p95] band before statistics: the standard tail-taming
    * treatment when a feed's outliers are real data (not errors to
    * quarantine like q76, not merely flags like q107) but would
    * dominate any downstream mean/scale. Reports per-group clip counts
    * and the winsorized mean against the raw mean — the before/after a
    * curation dashboard shows.
    *
    * Parity: exact percentiles (`percentile` == `quantile_cont`, the
    * A10 contract) on int64 cents; the clamp is pure comparison; means
    * divide exact integer sums by counts (int64→double, IEEE-exact)
    * before one round(4).
    *
    * Scale: one grouped exact percentile (sort within the 5-value
    * priority partitions), one broadcast of the 5-row band table, one
    * map-side-combinable agg. `percentile_approx` is the documented
    * high-cardinality swap (A5 trade). */
  def q132Winsorize(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        expr("cast(round(o_totalprice * 100) as bigint)").as("pc"))
    val bands = o.groupBy("o_orderpriority")
      .agg(expr("cast(percentile(pc, 0.05) as double)").as("lo"),
        expr("cast(percentile(pc, 0.95) as double)").as("hi"))
    o.join(broadcast(bands), "o_orderpriority")
      .withColumn("w", greatest(least(col("pc").cast("double"), col("hi")),
        col("lo")))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        count(when(col("pc").cast("double") < col("lo"), 1)).as("n_clip_lo"),
        count(when(col("pc").cast("double") > col("hi"), 1)).as("n_clip_hi"),
        round(sum(col("pc")).cast("double") / count(lit(1)) / 100.0, 4)
          .as("raw_mean"),
        round(sum(col("w")) / count(lit(1)) / 100.0, 4).as("wins_mean"))
      .orderBy("o_orderpriority")
  }

  val q132WinsorizeSql: String =
    """WITH o AS (
      |  SELECT o_orderpriority,
      |    CAST(ROUND(o_totalprice * 100) AS BIGINT) AS pc
      |  FROM orders),
      |b AS (
      |  SELECT o_orderpriority,
      |    CAST(quantile_cont(pc, 0.05) AS DOUBLE) AS lo,
      |    CAST(quantile_cont(pc, 0.95) AS DOUBLE) AS hi
      |  FROM o GROUP BY o_orderpriority)
      |SELECT o.o_orderpriority, COUNT(*) AS n,
      |  COUNT(*) FILTER (WHERE CAST(pc AS DOUBLE) < lo) AS n_clip_lo,
      |  COUNT(*) FILTER (WHERE CAST(pc AS DOUBLE) > hi) AS n_clip_hi,
      |  ROUND(CAST(SUM(pc) AS DOUBLE) / COUNT(*) / 100.0, 4) AS raw_mean,
      |  ROUND(SUM(GREATEST(LEAST(CAST(pc AS DOUBLE), hi), lo))
      |        / COUNT(*) / 100.0, 4) AS wins_mean
      |FROM o JOIN b ON o.o_orderpriority = b.o_orderpriority
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin

  /** Source-overlap matrix — pairwise Jaccard similarity of the
    * distinct word-bigram shingle sets of each corpus source: the
    * curation dashboard that says "these two feeds are 40% the same
    * material" BEFORE mixing weights are chosen (q86) or cross-source
    * dedup is run (q90). Set-level redundancy, complementing the
    * document-level dedup ladder.
    *
    * Scale: the pair space is |sources|² (bounded, here 10 rows), never
    * document pairs — the join is an inverted-index equi-join on the
    * shingle (q50 discipline), so work is ∝ Σ_gram (#sources sharing
    * it)², capped by |sources|² per gram. Distinct shingle sets are one
    * map-side-combinable distinct per source; the 5-row size table
    * broadcasts twice. Exact integer intersections; Jaccard is one
    * int64→double division rounded at 4. */
  def q124SourceOverlap(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimFns
    val d = Tables.documents(s, dir)
    val g = d.select(col("source"),
        explode(SimFns.wordBigrams(col("text"))).as("bigram"))
      .distinct()
    val sizes = g.groupBy("source").agg(count(lit(1)).as("n"))
    val a = g.select(col("source").as("src_a"), col("bigram"))
    val b = g.select(col("source").as("src_b"), col("bigram"))
    val inter = a.join(b, Seq("bigram"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"), col("n").as("na"))), "src_a")
      .join(broadcast(sizes.select(col("source").as("src_b"), col("n").as("nb"))), "src_b")
      .withColumn("un", col("na") + col("nb") - col("inter"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / col("un"), 4))
      .select("src_a", "src_b", "inter", "un", "jaccard")
      .orderBy("src_a", "src_b")
  }

  val q124SourceOverlapSql: String =
    """WITH g AS (
      |  SELECT DISTINCT source, bigram FROM (
      |    SELECT source,
      |      unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |        ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END) AS bigram
      |    FROM documents)),
      |s AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
      |i AS (
      |  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS inter
      |  FROM g a JOIN g b ON a.bigram = b.bigram AND a.source < b.source
      |  GROUP BY a.source, b.source)
      |SELECT src_a, src_b, inter,
      |  sa.n + sb.n - inter AS un,
      |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
      |FROM i
      |JOIN s sa ON i.src_a = sa.source
      |JOIN s sb ON i.src_b = sb.source
      |ORDER BY src_a, src_b""".stripMargin

  /** Referential-integrity audit — the first gate of any multi-source
    * integration: for every declared FK edge, how many child rows point
    * at a missing parent (orphans) and how many distinct dangling keys
    * exist. One output row per relationship, so a 7-edge schema audit is
    * one bounded frame regardless of fact size.
    *
    * Scale: each edge is one left join keyed on the FK. Only the
    * BOUNDED parents (nation, region) carry a broadcast hint;
    * linearly-scaled parents (customer, supplier, part, orders) are
    * unhinted — AQE picks broadcast at small SF and shuffle at 100 TB
    * (a forced hint on a scaled dimension is the KCore round-one OOM).
    * Counts are map-side-combinable; `countDistinct` of dangling keys
    * shuffles only orphan keys (normally zero). A healthy feed costs 7
    * scans and produces 7 rows of zeros — the point is the plan stays
    * this cheap at 100 TB. */
  def q123RefIntegrity(s: SparkSession, dir: String): DataFrame = {
    def audit(name: String, fact: DataFrame, fk: String,
              dim: DataFrame, pk: String, bcast: Boolean): DataFrame = {
      val parent = dim.select(col(pk))
      val side = if (bcast) broadcast(parent) else parent
      fact.select(col(fk))
        .join(side, col(fk) === col(pk), "left")
        .agg(count(lit(1)).as("n_rows"),
          count(when(col(pk).isNull, 1)).as("n_orphans"),
          countDistinct(when(col(pk).isNull, col(fk))).as("n_missing_keys"))
        .select(lit(name).as("relationship"),
          col("n_rows"), col("n_orphans"), col("n_missing_keys"))
    }
    val l = Tables.lineitem(s, dir)
    val o = Tables.orders(s, dir)
    val c = Tables.customer(s, dir)
    val su = Tables.supplier(s, dir)
    val p = Tables.part(s, dir)
    val n = Tables.nation(s, dir)
    val r = Tables.region(s, dir)
    Seq(
      audit("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey", bcast = true),
      audit("lineitem.l_orderkey->orders", l, "l_orderkey", o, "o_orderkey", bcast = false),
      audit("lineitem.l_partkey->part", l, "l_partkey", p, "p_partkey", bcast = false),
      audit("lineitem.l_suppkey->supplier", l, "l_suppkey", su, "s_suppkey", bcast = false),
      audit("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey", bcast = true),
      audit("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey", bcast = false),
      audit("supplier.s_nationkey->nation", su, "s_nationkey", n, "n_nationkey", bcast = true))
      .reduce(_ unionAll _)
      .orderBy("relationship")
  }

  val q123RefIntegritySql: String = {
    def edge(name: String, fact: String, fk: String,
             dim: String, pk: String): String =
      s"""SELECT '$name' AS relationship,
         |  COUNT(*) AS n_rows,
         |  COUNT(*) FILTER (WHERE d.$pk IS NULL) AS n_orphans,
         |  COUNT(DISTINCT CASE WHEN d.$pk IS NULL THEN f.$fk END)
         |    AS n_missing_keys
         |FROM $fact f LEFT JOIN $dim d ON f.$fk = d.$pk""".stripMargin
    Seq(
      edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edge("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY relationship")
  }

  val q107RobustOutliersSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type),
      |dev AS (
      |  SELECT e.event_type, m.med, abs(e.value - m.med) AS dev
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (
      |  SELECT event_type, med, quantile_cont(dev, 0.5) AS mad
      |  FROM dev GROUP BY event_type, med)
      |SELECT d.event_type, COUNT(*) AS n,
      |  ROUND(m.med, 4) AS med, ROUND(m.mad, 4) AS mad,
      |  CAST(COUNT(*) FILTER (WHERE d.dev > m.mad * 3) AS BIGINT) AS n_outliers
      |FROM dev d JOIN mad m ON d.event_type = m.event_type
      |GROUP BY d.event_type, m.med, m.mad
      |ORDER BY d.event_type""".stripMargin

  /** CUSUM changepoint detection — where did the level of a daily
    * series shift? The cumulative-sum statistic S_k − k·mean peaks at
    * the changepoint (Page 1954); computed EXACTLY by
    * cross-multiplying: score_k = n·S_k − k·T (both int64), so the
    * argmax is integer-exact and the only doubles are display columns.
    * Per priority: the detected day, its normalized CUSUM height and
    * the series length — the monitoring view behind "this feed's level
    * moved on day X", sharper than q97's pointwise z-scores for
    * sustained shifts.
    *
    * Parity: daily cents exact; the keyed cumulative window is ordered
    * by the unique day; argmax ties break on the earliest day via
    * lexicographic struct-min. Scale: one priority-keyed shuffle; the
    * window runs over calendar-bounded rows per group (the q115
    * contract). */
  def q148Cusum(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("pr"),
        to_date(col("o_orderdate")).as("day"))
      .agg(sum(expr("cast(round(o_totalprice * 100) as bigint)")).as("rev"))
    val byDay = Window.partitionBy("pr").orderBy("day")
    val all = Window.partitionBy("pr")
    val scored = daily
      .withColumn("k", row_number().over(byDay).cast("long"))
      .withColumn("sk", sum("rev").over(
        byDay.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("t", sum("rev").over(all))
      .withColumn("score", col("n") * col("sk") - col("k") * col("t"))
    scored.groupBy("pr")
      .agg(max("n").as("n_days"),
        min(struct((-abs(col("score"))).as("neg"), col("day"),
          col("score"))).as("m"))
      .select(col("pr"), col("n_days"),
        col("m.day").as("changepoint"),
        round(abs(col("m.score")).cast("double") /
          col("n_days") / 100.0, 4).as("cusum_height"))
      .orderBy("pr")
  }

  val q148CusumSql: String =
    """WITH daily AS (
      |  SELECT o_orderpriority AS pr, CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |      AS rev
      |  FROM orders GROUP BY 1, 2),
      |scored AS (
      |  SELECT pr, day,
      |    COUNT(*) OVER (PARTITION BY pr) AS n,
      |    SUM(rev) OVER (PARTITION BY pr) AS t,
      |    ROW_NUMBER() OVER (PARTITION BY pr ORDER BY day) AS k,
      |    SUM(rev) OVER (PARTITION BY pr ORDER BY day
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sk
      |  FROM daily),
      |sc AS (SELECT pr, day, n, n * sk - k * t AS score FROM scored),
      |best AS (
      |  SELECT pr, day, n, score,
      |    ROW_NUMBER() OVER (PARTITION BY pr
      |      ORDER BY ABS(score) DESC, day) AS rnk
      |  FROM sc)
      |SELECT pr, CAST(n AS BIGINT) AS n_days, day AS changepoint,
      |  ROUND(CAST(ABS(score) AS DOUBLE) / n / 100.0, 4) AS cusum_height
      |FROM best WHERE rnk = 1 ORDER BY pr""".stripMargin

  /** Functional-dependency discovery over declared candidates — the
    * data-profiling partner of q122's value census and q123's FK
    * audit: for each candidate A→B, how many A-values exist, how many
    * map to MORE than one B (violations), and whether the dependency
    * holds exactly. Mined FDs drive normalization, key inference and
    * anomaly screens ("this feed suddenly violates custkey→nation").
    *
    * Parity: pure exact counts; `holds` is a boolean both engines
    * derive from the same integer.
    *
    * Scale: one map-side-combinable (lhs → distinct-rhs) hash agg per
    * candidate, each collapsing to one row before the bounded union —
    * the q123 shape. Candidate lists are metadata-sized; nothing here
    * is quadratic in values. */
  def q142FdDiscovery(s: SparkSession, dir: String): DataFrame = {
    def fd(name: String, df: DataFrame, lhs: String, rhs: String) =
      df.groupBy(col(lhs)).agg(countDistinct(col(rhs)).as("nd"))
        .agg(count(lit(1)).as("n_lhs"),
          count(when(col("nd") > 1, 1)).as("n_violating"))
        .select(lit(name).as("fd"), col("n_lhs"), col("n_violating"),
          (col("n_violating") === 0).as("holds"))
    val o = Tables.orders(s, dir)
    val l = Tables.lineitem(s, dir)
    val c = Tables.customer(s, dir)
    val n = Tables.nation(s, dir)
    Seq(
      fd("customer.c_custkey->c_nationkey", c, "c_custkey", "c_nationkey"),
      fd("lineitem.l_orderkey->l_returnflag", l, "l_orderkey", "l_returnflag"),
      fd("lineitem.l_partkey->l_suppkey", l, "l_partkey", "l_suppkey"),
      fd("nation.n_nationkey->n_regionkey", n, "n_nationkey", "n_regionkey"),
      fd("orders.o_custkey->o_orderpriority", o, "o_custkey", "o_orderpriority"),
      fd("orders.o_orderkey->o_orderpriority", o, "o_orderkey", "o_orderpriority"))
      .reduce(_.unionByName(_))
      .orderBy("fd")
  }

  val q142FdDiscoverySql: String = {
    def fd(name: String, table: String, lhs: String, rhs: String): String =
      s"""SELECT '$name' AS fd, COUNT(*) AS n_lhs,
         |  COUNT(*) FILTER (WHERE nd > 1) AS n_violating,
         |  COUNT(*) FILTER (WHERE nd > 1) = 0 AS holds
         |FROM (SELECT $lhs, COUNT(DISTINCT $rhs) AS nd
         |      FROM $table GROUP BY $lhs)""".stripMargin
    Seq(
      fd("customer.c_custkey->c_nationkey", "customer", "c_custkey", "c_nationkey"),
      fd("lineitem.l_orderkey->l_returnflag", "lineitem", "l_orderkey", "l_returnflag"),
      fd("lineitem.l_partkey->l_suppkey", "lineitem", "l_partkey", "l_suppkey"),
      fd("nation.n_nationkey->n_regionkey", "nation", "n_nationkey", "n_regionkey"),
      fd("orders.o_custkey->o_orderpriority", "orders", "o_custkey", "o_orderpriority"),
      fd("orders.o_orderkey->o_orderpriority", "orders", "o_orderkey", "o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY fd")
  }

  /** Deterministic stratified train/val/test split — the corpus-prep
    * step every training pipeline runs before anything touches a model:
    * each document lands in exactly one of train (80%), val (10%) or
    * test (10%) by a pure function of its id, so the assignment is
    * reproducible across runs, engines, partitionings and re-ingests
    * (no `rand()`, no sampling state to persist). The census per
    * (lang, split) is what a curation dashboard shows to confirm the
    * holdout is balanced within every stratum.
    *
    * Parity: the bucket is the q127 LCG discipline — doc_id reduced mod
    * 1000003 BEFORE the multiply (the q92 overflow lesson), one shared
    * 64-bit-exact integer expression in both engines; counts and char
    * sums are exact int64, the mean divides once int64→double.
    *
    * Scale: one map-side-combinable hash agg over a pure per-row
    * projection — no shuffle beyond the 15-group agg, no window, no
    * sort until the bounded output. The split column itself is the
    * thing a 100 TB run writes via the S6 partitioned sink
    * (`partitionBy("split")`), making each subset scan partition-pruned
    * downstream. */
  def q134StratSplit(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val b = pmod(pmod(col("doc_id"), lit(1000003L)) * 1103515245L + 12345L,
      lit(1000000007L)) % 10
    d.withColumn("split",
        when(b < 8, lit("train")).when(b === 8, lit("val"))
          .otherwise(lit("test")))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("tot_chars"),
        round(sum(col("n_chars")).cast("double") / count(lit(1)), 4)
          .as("avg_chars"))
      .orderBy("lang", "split")
  }

  val q134StratSplitSql: String =
    """WITH t AS (
      |  SELECT lang, n_chars,
      |    ((doc_id % 1000003) * 1103515245 + 12345) % 1000000007 % 10 AS b
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
      |       ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  CAST(SUM(n_chars) AS BIGINT) AS tot_chars,
      |  ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars
      |FROM t GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** Gopher/C4-style heuristic quality-rule bundle — the classic
    * pre-training filter family ([PK] Rae et al. 2021 §A1.1, Raffel
    * et al. 2020 §2.2) as ONE census query: per rule, how many
    * documents it would drop, plus the any-rule union and the retained
    * remainder. Rules (composing the q44/q46/q91 kernel shapes):
    *
    *  - symbol_ratio: (# + … occurrences) / words > 1/10
    *  - bullet_lines / ellipsis_lines: > 9/10 of lines start with a
    *    bullet; > 3/10 end with '...'
    *  - stopword_absent: none of {the, a, of, and, to} present
    *  - mean_word_len outside [4.2, 4.8] (Gopher's [3,10] band scaled
    *    to this synthetic vocabulary, where every mean sits in
    *    [3.7, 5.3] — the bound is the corpus-calibrated analogue)
    *  - word_count outside [40, 100000]
    *
    * Parity discipline: every threshold is an exact INTEGER
    * cross-multiplication (sum_len·10 < n_words·42, not mean < 4.2 —
    * no float boundary can flip an engine), word-char totals derive
    * from length(text) − spaces, and shares use the half-up integer
    * division both engines compute identically. Scale: one projection
    * per document (codegen HOFs, no shuffle) into a single global
    * aggregate of constant width; the census unpivot is 8 literal
    * struct rows. */
  def q162GopherRules(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val nw = (length(col("text")) - length(regexp_replace(col("text"), " ", "")) + 1)
      .cast("long")
    val sumLen = length(regexp_replace(col("text"), " ", "")).cast("long")
    val nSym = (length(col("text")) - length(regexp_replace(col("text"), "#", "")) +
      (length(col("text")) -
        length(regexp_replace(col("text"), "\\.\\.\\.", ""))) / 3).cast("long")
    val lines = split(col("text"), "\n")
    val nLines = size(lines).cast("long")
    val nBullet = size(filter(lines, x =>
      substring(x, 1, 1).isin("-", "*", "•"))).cast("long")
    val nEll = size(filter(lines, x => x.endsWith("..."))).cast("long")
    val flags = d.select(
      (nSym * 10 > nw).as("f_sym"),
      (nBullet * 10 > nLines * 9).as("f_bullet"),
      (nEll * 10 > nLines * 3).as("f_ell"),
      (!arrays_overlap(split(col("text"), " "),
        array(lit("the"), lit("a"), lit("of"), lit("and"), lit("to"))))
        .as("f_stop"),
      (sumLen * 10 < nw * 42 || sumLen * 10 > nw * 48).as("f_mwl"),
      (nw < 40 || nw > 100000).as("f_wc"))
      .withColumn("f_any",
        col("f_sym") || col("f_bullet") || col("f_ell") || col("f_stop") ||
          col("f_mwl") || col("f_wc"))
    def cnt(c: String) = sum(when(col(c), 1L).otherwise(0L))
    val agg = flags.agg(
      count(lit(1)).as("total"), cnt("f_sym").as("n_sym"),
      cnt("f_bullet").as("n_bullet"), cnt("f_ell").as("n_ell"),
      cnt("f_stop").as("n_stop"), cnt("f_mwl").as("n_mwl"),
      cnt("f_wc").as("n_wc"), cnt("f_any").as("n_any"))
    val census = agg.select(col("total"), explode(array(
      struct(lit("any_rule").as("rule"), col("n_any").as("n_docs")),
      struct(lit("bullet_lines").as("rule"), col("n_bullet").as("n_docs")),
      struct(lit("ellipsis_lines").as("rule"), col("n_ell").as("n_docs")),
      struct(lit("mean_word_len").as("rule"), col("n_mwl").as("n_docs")),
      struct(lit("retained").as("rule"), (col("total") - col("n_any")).as("n_docs")),
      struct(lit("stopword_absent").as("rule"), col("n_stop").as("n_docs")),
      struct(lit("symbol_ratio").as("rule"), col("n_sym").as("n_docs")),
      struct(lit("word_count").as("rule"), col("n_wc").as("n_docs"))
    )).as("r")).select(col("r.rule").as("rule"), col("r.n_docs").as("n_docs"),
      col("total"))
    val h = col("n_docs") * 20000L + col("total")
    val d2 = col("total") * 2L
    census.select(col("rule"), col("n_docs"),
        (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("share"))
      .orderBy("rule")
  }

  val q162GopherRulesSql: String =
    """WITH f AS (
      |  SELECT
      |    (length(text) - length(replace(text, '#', ''))
      |      + (length(text) - length(replace(text, '...', ''))) // 3) * 10
      |      > (length(text) - length(replace(text, ' ', '')) + 1) AS f_sym,
      |    len(list_filter(string_split(text, chr(10)),
      |      l -> substr(l, 1, 1) IN ('-', '*', chr(8226)))) * 10
      |      > len(string_split(text, chr(10))) * 9 AS f_bullet,
      |    len(list_filter(string_split(text, chr(10)),
      |      l -> ends_with(l, '...'))) * 10
      |      > len(string_split(text, chr(10))) * 3 AS f_ell,
      |    len(list_intersect(string_split(text, ' '),
      |      ['the', 'a', 'of', 'and', 'to'])) = 0 AS f_stop,
      |    length(replace(text, ' ', '')) * 10
      |        < (length(text) - length(replace(text, ' ', '')) + 1) * 42
      |      OR length(replace(text, ' ', '')) * 10
      |        > (length(text) - length(replace(text, ' ', '')) + 1) * 48 AS f_mwl,
      |    (length(text) - length(replace(text, ' ', '')) + 1) < 40
      |      OR (length(text) - length(replace(text, ' ', '')) + 1) > 100000
      |      AS f_wc
      |  FROM documents),
      |agg AS (
      |  SELECT COUNT(*) AS total,
      |    CAST(SUM(CASE WHEN f_sym THEN 1 ELSE 0 END) AS BIGINT) AS n_sym,
      |    CAST(SUM(CASE WHEN f_bullet THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet,
      |    CAST(SUM(CASE WHEN f_ell THEN 1 ELSE 0 END) AS BIGINT) AS n_ell,
      |    CAST(SUM(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
      |    CAST(SUM(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_mwl,
      |    CAST(SUM(CASE WHEN f_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_wc,
      |    CAST(SUM(CASE WHEN f_sym OR f_bullet OR f_ell OR f_stop OR f_mwl
      |      OR f_wc THEN 1 ELSE 0 END) AS BIGINT) AS n_any
      |  FROM f),
      |census AS (
      |  SELECT 'any_rule' AS rule, n_any AS n_docs, total FROM agg
      |  UNION ALL SELECT 'bullet_lines', n_bullet, total FROM agg
      |  UNION ALL SELECT 'ellipsis_lines', n_ell, total FROM agg
      |  UNION ALL SELECT 'mean_word_len', n_mwl, total FROM agg
      |  UNION ALL SELECT 'retained', total - n_any, total FROM agg
      |  UNION ALL SELECT 'stopword_absent', n_stop, total FROM agg
      |  UNION ALL SELECT 'symbol_ratio', n_sym, total FROM agg
      |  UNION ALL SELECT 'word_count', n_wc, total FROM agg)
      |SELECT rule, n_docs,
      |  ((n_docs * 20000 + total) // (total * 2)) / 10000.0 AS share
      |FROM census ORDER BY rule""".stripMargin

  /** L155 TOPSIS multi-criteria supplier ranking (Hwang & Yoon 1981
    * [PK]): each supplier scored on three criteria — quoted revenue
    * (benefit), lineitems served (benefit), total late-days (cost) —
    * vector-normalized, equal-weighted, then ranked by relative
    * closeness d⁻/(d⁺+d⁻) to the ideal/anti-ideal points. (The fixture
    * lineitem carries no commit/receipt dates, so the cost criterion
    * is discount conceded, not lateness.) The
    * standard "rank alternatives under competing criteria" operator a
    * procurement/vendor scorecard runs; q118's skyline returns the
    * undominated SET, TOPSIS produces the total ORDER.
    *
    * Parity: the three criteria are exact int64 (cents pinned per item
    * before summing; late days are int datediffs); squared-norm sums
    * ride DECIMAL(38,0)/HUGEINT; everything after is one fixed double
    * chain per column (normalize → ·⅓ weight → distances → closeness),
    * displayed 6dp, ranked on the ROUNDED closeness with suppkey
    * tie-break (hazard #4).
    *
    * Scale: one map-side-combinable supplier agg over the fact scan;
    * ideal/anti-ideal and norms ride windows over the supplier census
    * (dimension-sized; at 10⁸ suppliers the same bounds come from a
    * 1-row agg broadcast). Top-25 via TakeOrderedAndProject. */
  def q220Topsis(s: SparkSession, dir: String): DataFrame = {
    val dec = "decimal(38,0)"
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey").as("sk"),
        Parity.quant(col("l_extendedprice"), 100.0).as("cents"),
        Parity.quant(col("l_extendedprice") * col("l_discount"),
          100.0).as("disc_cents"))
    val g = li.groupBy("sk")
      .agg(sum(col("cents")).as("c1"), count(lit(1)).as("c2"),
        sum(col("disc_cents")).as("c3"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val n = g
      .withColumn("s1", sum(col("c1").cast(dec) * col("c1").cast(dec)).over(wAll))
      .withColumn("s2", sum(col("c2").cast(dec) * col("c2").cast(dec)).over(wAll))
      .withColumn("s3", sum(col("c3").cast(dec) * col("c3").cast(dec)).over(wAll))
      .withColumn("v1",
        when(col("s1") > 0, col("c1").cast("double") / sqrt(col("s1").cast("double")) / 3.0)
          .otherwise(0.0))
      .withColumn("v2",
        when(col("s2") > 0, col("c2").cast("double") / sqrt(col("s2").cast("double")) / 3.0)
          .otherwise(0.0))
      .withColumn("v3",
        when(col("s3") > 0, col("c3").cast("double") / sqrt(col("s3").cast("double")) / 3.0)
          .otherwise(0.0))
    val b = n
      .withColumn("i1", max(col("v1")).over(wAll))
      .withColumn("i2", max(col("v2")).over(wAll))
      .withColumn("i3", min(col("v3")).over(wAll))
      .withColumn("a1", min(col("v1")).over(wAll))
      .withColumn("a2", min(col("v2")).over(wAll))
      .withColumn("a3", max(col("v3")).over(wAll))
    val dp = sqrt((col("v1") - col("i1")) * (col("v1") - col("i1")) +
      (col("v2") - col("i2")) * (col("v2") - col("i2")) +
      (col("v3") - col("i3")) * (col("v3") - col("i3")))
    val dm = sqrt((col("v1") - col("a1")) * (col("v1") - col("a1")) +
      (col("v2") - col("a2")) * (col("v2") - col("a2")) +
      (col("v3") - col("a3")) * (col("v3") - col("a3")))
    b.select(col("sk").as("s_suppkey"), col("c1").as("cents_quoted"),
        col("c2").as("n_items"), col("c3").as("disc_cents"),
        (round(dm / (dp + dm), 6) + 0.0).as("closeness"))
      .orderBy(col("closeness").desc, col("s_suppkey"))
      .limit(25)
  }

  val q220TopsisSql: String =
    """WITH li AS (
      |  SELECT l_suppkey AS sk,
      |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
      |    CAST(FLOOR(l_extendedprice * l_discount * 100 + 0.5) AS BIGINT)
      |      AS disc_cents
      |  FROM lineitem),
      |g AS (
      |  SELECT sk, CAST(SUM(cents) AS BIGINT) AS c1, COUNT(*) AS c2,
      |    CAST(SUM(disc_cents) AS BIGINT) AS c3
      |  FROM li GROUP BY sk),
      |n AS (
      |  SELECT sk, c1, c2, c3,
      |    SUM(CAST(c1 AS HUGEINT) * c1) OVER () AS s1,
      |    SUM(CAST(c2 AS HUGEINT) * c2) OVER () AS s2,
      |    SUM(CAST(c3 AS HUGEINT) * c3) OVER () AS s3
      |  FROM g),
      |v AS (
      |  SELECT sk, c1, c2, c3,
      |    CASE WHEN s1 > 0
      |      THEN CAST(c1 AS DOUBLE) / sqrt(CAST(s1 AS DOUBLE)) / 3.0
      |      ELSE 0.0 END AS v1,
      |    CASE WHEN s2 > 0
      |      THEN CAST(c2 AS DOUBLE) / sqrt(CAST(s2 AS DOUBLE)) / 3.0
      |      ELSE 0.0 END AS v2,
      |    CASE WHEN s3 > 0
      |      THEN CAST(c3 AS DOUBLE) / sqrt(CAST(s3 AS DOUBLE)) / 3.0
      |      ELSE 0.0 END AS v3
      |  FROM n),
      |b AS (
      |  SELECT sk, c1, c2, c3, v1, v2, v3,
      |    MAX(v1) OVER () AS i1, MAX(v2) OVER () AS i2, MIN(v3) OVER () AS i3,
      |    MIN(v1) OVER () AS a1, MIN(v2) OVER () AS a2, MAX(v3) OVER () AS a3
      |  FROM v)
      |SELECT sk AS s_suppkey, c1 AS cents_quoted, c2 AS n_items,
      |  c3 AS disc_cents,
      |  ROUND(sqrt((v1 - a1) * (v1 - a1) + (v2 - a2) * (v2 - a2)
      |      + (v3 - a3) * (v3 - a3))
      |    / (sqrt((v1 - i1) * (v1 - i1) + (v2 - i2) * (v2 - i2)
      |        + (v3 - i3) * (v3 - i3))
      |      + sqrt((v1 - a1) * (v1 - a1) + (v2 - a2) * (v2 - a2)
      |        + (v3 - a3) * (v3 - a3))), 6) + 0 AS closeness
      |FROM b
      |ORDER BY closeness DESC, s_suppkey LIMIT 25""".stripMargin

  /** L210 forecast evaluation — MAE / MASE / sMAPE of q143's Holt
    * one-step-ahead forecasts per priority series ([PK] Hyndman &
    * Koehler 2006): MASE divides the forecast MAE by the in-sample
    * naive (random-walk) MAE, so "is the smoother beating last-known-
    * value" reads directly (< 1 = yes) and is unit-free across series
    * of different revenue scale — the evaluation operator the L72
    * smoother family shipped without; sMAPE is the bounded (0,2)
    * percentage companion.
    *
    * Parity: q143's outputs are already floor-quantized on the 1e-4
    * grid, so |error| terms re-quantize to exact 1e-4-unit int64s;
    * sMAPE terms are nano-quantized per day before the integer sum;
    * each output is one double division of exact int64s, 4dp.
    *
    * Scale: rides q143's census (days × 5 priorities) — one keyed
    * window for the two lags, one hash agg; fact data is touched only
    * by q143's daily rollup. */
  def q278ForecastEval(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val h = q143Holt(s, dir)
    val w = Window.partitionBy("o_orderpriority").orderBy("day")
    val e = h.select(col("o_orderpriority"), col("day"), col("rev"),
        lag(col("forecast"), 1).over(w).as("f"),
        lag(col("rev"), 1).over(w).as("prev"))
      .filter(col("f").isNotNull)
    val errq = Parity.quant(abs(col("rev") - col("f")), 1e4)
    val naiq = Parity.quant(abs(col("rev") - col("prev")), 1e4)
    val smq = when(abs(col("f")) + abs(col("rev")) > 0.0,
      Parity.quant(lit(2.0) * abs(col("rev") - col("f")) /
        (abs(col("f")) + abs(col("rev"))), 1e9))
      .otherwise(0L)
    e.select(col("o_orderpriority"), errq.as("eq"), naiq.as("nq"),
        smq.as("sq"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_days"), sum("eq").as("se"),
        sum("nq").as("sn"), sum("sq").as("ss"))
      .select(col("o_orderpriority"), col("n_days"),
        Parity.fix(col("se").cast("double") / 1e4 /
          col("n_days").cast("double"), 4).as("mae"),
        when(col("sn") === 0, lit(null).cast("double"))
          .otherwise(Parity.fix(col("se").cast("double") /
            col("sn").cast("double"), 4)).as("mase"),
        Parity.fix(col("ss").cast("double") / 1e9 /
          col("n_days").cast("double"), 4).as("smape"))
      .orderBy("o_orderpriority")
  }

  val q278ForecastEvalSql: String =
    s"""WITH e AS (
       |  SELECT o_orderpriority, rev,
       |    LAG(forecast) OVER (PARTITION BY o_orderpriority
       |      ORDER BY day) AS f,
       |    LAG(rev) OVER (PARTITION BY o_orderpriority
       |      ORDER BY day) AS prev
       |  FROM ($q143HoltSql) base),
       |q AS (
       |  SELECT o_orderpriority,
       |    CAST(FLOOR(ABS(rev - f) * 1e4 + 0.5) AS BIGINT) AS eq,
       |    CAST(FLOOR(ABS(rev - prev) * 1e4 + 0.5) AS BIGINT) AS nq,
       |    CASE WHEN ABS(f) + ABS(rev) > 0.0 THEN
       |      CAST(FLOOR(2.0 * ABS(rev - f) / (ABS(f) + ABS(rev))
       |        * 1e9 + 0.5) AS BIGINT) ELSE 0 END AS sq
       |  FROM e WHERE f IS NOT NULL),
       |g AS (
       |  SELECT o_orderpriority, COUNT(*) AS n_days,
       |    CAST(SUM(eq) AS BIGINT) AS se, CAST(SUM(nq) AS BIGINT) AS sn,
       |    CAST(SUM(sq) AS BIGINT) AS ss
       |  FROM q GROUP BY o_orderpriority)
       |SELECT o_orderpriority, CAST(n_days AS BIGINT) AS n_days,
       |  FLOOR(CAST(se AS DOUBLE) / 1e4 / n_days * 1e4 + 0.5) / 1e4 AS mae,
       |  CASE WHEN sn = 0 THEN NULL
       |    ELSE FLOOR(CAST(se AS DOUBLE) / sn * 1e4 + 0.5) / 1e4 END AS mase,
       |  FLOOR(CAST(ss AS DOUBLE) / 1e9 / n_days * 1e4 + 0.5) / 1e4 AS smape
       |FROM g ORDER BY o_orderpriority""".stripMargin

  /** L212 leakage-safe K-fold assignment: evaluation folds keyed on the
    * NEAR-DUP CLUSTER (q51's LSH pairs → L23 connected components), not
    * the document — the train/test-contamination fix every dedup paper
    * warns about: hashing doc_ids spreads near-duplicate pairs across
    * folds, so the model is tested on paraphrases of its own training
    * data and the eval lies high. Fold = deterministic LCG hash of the
    * cluster canonical (q127's engine-exact integer recipe, no RNG
    * state); the `naive_straddle` column counts the clusters that a
    * doc-level split WOULD have torn across folds — the measured
    * leakage this operator removes (non-vacuity: > 0 on the fixtures).
    *
    * Parity: fold arithmetic is exact int64 on both engines (canonical
    * ids bounded well under the 2⁶³/LCG-multiplier overflow line,
    * documented at q184); cluster labels ride the q90 CC construction
    * (Spark iterative components == DuckDB recursive closure).
    *
    * Scale: the q90 shape — LSH pair table (banded, never all-pairs),
    * component labels broadcast onto the corpus, one hash agg per
    * grain; the 1-row straddle summary broadcasts onto the 5-row fold
    * census (allowlisted BNLJ). */
  def q279LeakageFolds(s: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.q51MinHashLsh(s, dir).select("doc_a", "doc_b")
    val comp = ConnectedComponents.components(pairs, "doc_a", "doc_b")
    val lab = Tables.documents(s, dir).select(col("doc_id"))
      .join(broadcast(comp), col("doc_id") === col("id"), "left")
      .withColumn("canonical", coalesce(col("component"), col("doc_id")))
    def lcgFold(c: org.apache.spark.sql.Column) =
      pmod(c * lit(1103515245L) + lit(12345L), lit(1000000007L)) % 5
    val folds = lab
      .groupBy(lcgFold(col("canonical")).as("fold"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("canonical")).as("n_clusters"))
    val straddle = lab.filter(col("component").isNotNull)
      .groupBy("canonical")
      .agg(countDistinct(lcgFold(col("doc_id"))).as("nf"))
      .agg(count(lit(1)).as("n_dup_clusters"),
        sum(when(col("nf") > 1, 1L).otherwise(0L)).as("naive_straddle"))
    folds.crossJoin(broadcast(straddle))
      .select(col("fold"), col("n_docs"), col("n_clusters"),
        col("n_dup_clusters"), col("naive_straddle"))
      .orderBy("fold")
  }

  /** DuckDB mirror: the q90 recursive-closure labeling, then identical
    * integer fold arithmetic on both grains. */
  val q279LeakageFoldsSql: String =
    """WITH RECURSIVE
      |pairs AS (
      |  SELECT doc_a, doc_b FROM (
      |""".stripMargin +
      DedupQueries.q51MinHashLshSql.linesIterator
        .filter(!_.startsWith("ORDER BY")).mkString("\n") +
    """
      |  )),
      |edges AS (
      |  SELECT doc_a AS src, doc_b AS dst FROM pairs
      |  UNION SELECT doc_b, doc_a FROM pairs),
      |closure(src, dst) AS (
      |  SELECT src, dst FROM edges
      |  UNION
      |  SELECT c.src, e.dst FROM closure c JOIN edges e ON c.dst = e.src),
      |lbl AS (
      |  SELECT src AS id, MIN(r) AS component FROM (
      |    SELECT src, dst AS r FROM closure
      |    UNION ALL SELECT src, src FROM edges)
      |  GROUP BY src),
      |lab AS (
      |  SELECT d.doc_id, l.component,
      |    COALESCE(l.component, d.doc_id) AS canonical
      |  FROM documents d LEFT JOIN lbl l ON d.doc_id = l.id),
      |folds AS (
      |  SELECT ((canonical * 1103515245 + 12345) % 1000000007
      |          + 1000000007) % 1000000007 % 5 AS fold,
      |    COUNT(*) AS n_docs,
      |    COUNT(DISTINCT canonical) AS n_clusters
      |  FROM lab GROUP BY 1),
      |strad AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_dup_clusters,
      |    CAST(SUM(CASE WHEN nf > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS naive_straddle
      |  FROM (
      |    SELECT canonical,
      |      COUNT(DISTINCT ((doc_id * 1103515245 + 12345) % 1000000007
      |        + 1000000007) % 1000000007 % 5) AS nf
      |    FROM lab WHERE component IS NOT NULL
      |    GROUP BY canonical))
      |SELECT CAST(fold AS BIGINT) AS fold,
      |  CAST(n_docs AS BIGINT) AS n_docs,
      |  CAST(n_clusters AS BIGINT) AS n_clusters,
      |  n_dup_clusters, naive_straddle
      |FROM folds, strad ORDER BY fold""".stripMargin

  /** L294 Holt-Winters additive triple smoothing ([PK] Holt 1957,
    * Winters 1960) — completes the q115 EWMA → q143 Holt ladder with
    * the SEASONAL component: level, trend, and a period-7 additive
    * seasonal index adapt recursively over the 1997+ daily revenue
    * series (α=0.3, β=0.1, γ=0.2), with the one-step-ahead fit
    * (l + b + s) and its residual published per day. Seasonality is
    * indexed over the OBSERVED-day sequence (the q143 recursion
    * domain) — at oracle SFs the day census is sparse, so calendar
    * weekday indexing would leave seasonal slots uninitialized; on
    * dense production data the observed index IS the calendar day.
    * Init is the classic first-season form: l₀ = mean of the first 7
    * observations (computed in exact DECIMAL before ONE cast), b₀ = 0,
    * s₀ = first-week deviations; output starts at observation 8.
    *
    * Parity: daily rev = exact DECIMAL sum cast once; l₀ likewise one
    * exact-sum division; the recursion is the identical IEEE
    * multiply/add chain on both engines (the q143 contract — Spark
    * in-row `aggregate` fold over the collected series, DuckDB a
    * RECURSIVE CTE joined step-by-step), outputs floor-quantized 4dp.
    *
    * Scale: one map-side-combinable day census, a 1-row init
    * broadcast, then a fold over the scale-constant ≤ 730-element
    * series — no per-row shuffle, no iteration over the cluster
    * (q143/q262 discipline). */
  def q359HoltWinters(s: SparkSession, dir: String): DataFrame = {
    import Parity._
    val daily = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01"))
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(dm(col("o_totalprice"))).cast("double").as("rev"),
        sum(dm(col("o_totalprice"))).as("revd"))
      .withColumn("rn", row_number().over(Window.orderBy("day")))
      .localCheckpoint(eager = false)
    val init = daily.filter(col("rn") <= 7)
      .agg((sum(col("revd")).cast("double") / 7.0).as("l0"),
        transform(array_sort(collect_list(struct(col("rn"), col("rev")))),
          x => x("rev")).as("w0"))
      .select(col("l0"),
        transform(col("w0"), x => x - col("l0")).as("sea0"))
    val rest = daily.filter(col("rn") >= 8)
      .agg(array_sort(collect_list(struct(col("rn"), col("day"),
        col("rev")))).as("s"))
    // α=0.3, β=0.1, γ=0.2; idx = (rn-1) % 7 + 1 (1-based seasonal slot).
    // SQL lambdas cannot bind locals, so l' repeats inline (q143 form).
    val folded = rest.crossJoin(broadcast(init)).withColumn("out", expr(
      """aggregate(s,
        |  struct(l0 AS l, cast(0.0D as double) AS b, sea0 AS sea,
        |    cast(array() as
        |      array<struct<day: date, rev: double, lvl: double,
        |        tr: double, se: double, fit: double>>) AS out),
        |  (acc, x) -> struct(
        |    0.3D * (x.rev - element_at(acc.sea,
        |        cast((x.rn - 1) % 7 + 1 as int)))
        |      + 0.7D * (acc.l + acc.b) AS l,
        |    0.1D * ((0.3D * (x.rev - element_at(acc.sea,
        |          cast((x.rn - 1) % 7 + 1 as int)))
        |        + 0.7D * (acc.l + acc.b)) - acc.l)
        |      + 0.9D * acc.b AS b,
        |    transform(sequence(1, 7), j -> IF(j = (x.rn - 1) % 7 + 1,
        |      0.2D * (x.rev - (0.3D * (x.rev - element_at(acc.sea,
        |            cast((x.rn - 1) % 7 + 1 as int)))
        |          + 0.7D * (acc.l + acc.b)))
        |        + 0.8D * element_at(acc.sea,
        |            cast((x.rn - 1) % 7 + 1 as int)),
        |      element_at(acc.sea, cast(j as int)))) AS sea,
        |    array_append(acc.out, struct(
        |      x.day AS day, x.rev AS rev,
        |      0.3D * (x.rev - element_at(acc.sea,
        |          cast((x.rn - 1) % 7 + 1 as int)))
        |        + 0.7D * (acc.l + acc.b) AS lvl,
        |      0.1D * ((0.3D * (x.rev - element_at(acc.sea,
        |            cast((x.rn - 1) % 7 + 1 as int)))
        |          + 0.7D * (acc.l + acc.b)) - acc.l)
        |        + 0.9D * acc.b AS tr,
        |      0.2D * (x.rev - (0.3D * (x.rev - element_at(acc.sea,
        |            cast((x.rn - 1) % 7 + 1 as int)))
        |          + 0.7D * (acc.l + acc.b)))
        |        + 0.8D * element_at(acc.sea,
        |            cast((x.rn - 1) % 7 + 1 as int)) AS se,
        |      acc.l + acc.b + element_at(acc.sea,
        |          cast((x.rn - 1) % 7 + 1 as int)) AS fit)) AS out),
        |  acc -> acc.out)""".stripMargin))
    folded.select(explode(col("out")).as("z"))
      .select(col("z.day").as("day"),
        Parity.fix(col("z.rev"), 4).as("rev"),
        Parity.fix(col("z.lvl"), 4).as("level"),
        Parity.fix(col("z.tr"), 4).as("trend"),
        Parity.fix(col("z.se"), 4).as("seasonal"),
        Parity.fix(col("z.fit"), 4).as("fitted"),
        Parity.fix(col("z.rev") - col("z.fit"), 4)
          .as("resid"))
      .orderBy("day")
  }

  val q359HoltWintersSql: String =
    """WITH RECURSIVE daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS day,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS DOUBLE) AS rev,
      |    SUM(CAST(o_totalprice AS DECIMAL(13,4))) AS revd
      |  FROM orders WHERE o_orderdate >= DATE '1997-01-01'
      |  GROUP BY 1),
      |s AS (
      |  SELECT day, rev, revd, ROW_NUMBER() OVER (ORDER BY day) AS rn
      |  FROM daily),
      |i AS (
      |  SELECT CAST(SUM(revd) AS DOUBLE) / 7.0 AS l0,
      |    list(rev ORDER BY rn) AS w0
      |  FROM s WHERE rn <= 7),
      |i2 AS (
      |  SELECT l0, list_transform(w0, x -> x - l0) AS sea0 FROM i),
      |h AS (
      |  SELECT 7 AS rn, CAST(NULL AS DATE) AS day,
      |    CAST(NULL AS DOUBLE) AS rev, l0 AS lvl,
      |    CAST(0.0 AS DOUBLE) AS tr, sea0 AS sea,
      |    CAST(NULL AS DOUBLE) AS se, CAST(NULL AS DOUBLE) AS fit
      |  FROM i2
      |  UNION ALL
      |  SELECT s.rn, s.day, s.rev,
      |    0.3 * (s.rev - h.sea[(s.rn - 1) % 7 + 1])
      |      + 0.7 * (h.lvl + h.tr),
      |    0.1 * ((0.3 * (s.rev - h.sea[(s.rn - 1) % 7 + 1])
      |        + 0.7 * (h.lvl + h.tr)) - h.lvl)
      |      + 0.9 * h.tr,
      |    list_transform(range(1, 8), j ->
      |      CASE WHEN j = (s.rn - 1) % 7 + 1 THEN
      |        0.2 * (s.rev - (0.3 * (s.rev - h.sea[(s.rn - 1) % 7 + 1])
      |            + 0.7 * (h.lvl + h.tr)))
      |          + 0.8 * h.sea[(s.rn - 1) % 7 + 1]
      |      ELSE h.sea[j] END),
      |    0.2 * (s.rev - (0.3 * (s.rev - h.sea[(s.rn - 1) % 7 + 1])
      |        + 0.7 * (h.lvl + h.tr)))
      |      + 0.8 * h.sea[(s.rn - 1) % 7 + 1],
      |    h.lvl + h.tr + h.sea[(s.rn - 1) % 7 + 1]
      |  FROM s JOIN h ON s.rn = h.rn + 1)
      |SELECT day,
      |  FLOOR(rev * 1e4 + 0.5) / 1e4 AS rev,
      |  FLOOR(lvl * 1e4 + 0.5) / 1e4 AS level,
      |  FLOOR(tr * 1e4 + 0.5) / 1e4 AS trend,
      |  FLOOR(se * 1e4 + 0.5) / 1e4 AS seasonal,
      |  FLOOR(fit * 1e4 + 0.5) / 1e4 AS fitted,
      |  FLOOR((rev - fit) * 1e4 + 0.5) / 1e4 AS resid
      |FROM h WHERE rn >= 8 ORDER BY day""".stripMargin
}
