package graft.ops

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Parity.rnd

/** Graph-analytics queries under the oracle gate. q84 (entity
  * clustering via [[ConnectedComponents]]) lives in PipelineQueries;
  * here is the other iterative-graph classic: weighted PageRank over
  * the nation trade graph. The general mass-conserving double-valued
  * operator is [[PageRank]]; this query is the ORACLE form — a fixed
  * 3-iteration unroll in exact Long micro-rank units (share =
  * (r·w) div W, update = tele + (85·in) div 100), so both engines do
  * pure integer arithmetic and the cross-engine hash can never drift
  * on float summation order. All values non-negative, so Spark `div`
  * (truncate) and DuckDB `//` (floor) agree; intermediates bounded by
  * rank·weight ≤ 2.6e9 · |lineitem-per-edge| — Long-safe through
  * SF 1e4.
  *
  * Scale: the edge build is the heavy part (lineitem ⋈ orders SMJ +
  * two broadcast dims) and collapses to ≤ |nations|² weighted edges via
  * a map-side-combinable count; each iteration is then one equi-join +
  * partial-agg sum over that bounded edge set. The driver sees one
  * scalar (N) and the final 25-row window is bounded by the nation
  * dimension, not the fact table.
  */
object GraphQueries {

  /** Weighted PageRank (3 integer iterations) of the nation trade
    * graph: edge src→dst with weight = number of lineitems customers
    * of nation src bought from suppliers of nation dst. Emits
    * (n_name, pr_micro, rnk) — micro-rank units of 1e-9. */
  def q101PageRank(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_suppkey"))
    val o = Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"))
    val c = Tables.customer(s, dir).select(col("c_custkey"), col("c_nationkey"))
    val sup = Tables.supplier(s, dir).select(col("s_suppkey"), col("s_nationkey"))
    // materialize the collapsed edge list ONCE (≤ |nations|² rows):
    // without this the fact-table join subtree would re-evaluate in
    // every unrolled iteration (same localCheckpoint pattern as q84's
    // ConnectedComponents — the fixed-point queries' lineage guard)
    val e = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val wt = e.groupBy("src").agg(sum("w").as("tw"))
    // one driver scalar, same class as q84's per-round convergence count
    val n = nodes.count()
    val tele = (1000000000L * 15L) / (100L * n)
    var ranks = nodes.select(col("id"), lit(1000000000L).as("r"))
    var it = 0
    while (it < 3) {
      val contrib = e.join(wt, "src")
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .selectExpr("dst AS id", "(r * w) div tw AS sh")
        .groupBy("id").agg(sum("sh").as("s"))
      ranks = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(tele) + expr("(85 * coalesce(s, CAST(0 AS BIGINT))) div 100"))
            .as("r"))
      it += 1
    }
    val nat = Tables.nation(s, dir)
      .select(col("n_nationkey").as("id"), col("n_name"))
    ranks.join(broadcast(nat), "id")
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("r").desc, col("n_name"))))
      .select(col("n_name"), col("r").as("pr_micro"), col("rnk"))
      .orderBy("rnk")
  }

  val q101PageRankSql: String = {
    def iter(prev: String, c: String, r: String): String =
      s"""$c AS (SELECT e.dst AS id, SUM((p.r * e.w) // wt.tw) AS s
         |  FROM e JOIN wt USING (src) JOIN $prev p ON p.id = e.src
         |  GROUP BY e.dst),
         |$r AS (SELECT nodes.id, tele.t + (85 * COALESCE($c.s, 0)) // 100 AS r
         |  FROM nodes CROSS JOIN tele LEFT JOIN $c USING (id))""".stripMargin
    s"""WITH e AS (
       |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
       |  FROM lineitem l
       |  JOIN orders o ON l.l_orderkey = o.o_orderkey
       |  JOIN customer c ON o.o_custkey = c.c_custkey
       |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
       |  GROUP BY 1, 2),
       |nodes AS (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |wt AS (SELECT src, SUM(w) AS tw FROM e GROUP BY src),
       |tele AS (SELECT (CAST(1000000000 AS BIGINT) * 15) // (100 * COUNT(*)) AS t
       |  FROM nodes),
       |r0 AS (SELECT id, CAST(1000000000 AS BIGINT) AS r FROM nodes),
       |${iter("r0", "c1", "r1")},
       |${iter("r1", "c2", "r2")},
       |${iter("r2", "c3", "r3")}
       |-- CAST: the SUM inside each iteration widens r to HUGEINT,
       |-- which pandas reads as float64 and the driver hasher rejects
       |-- against Spark's int64 (the q67 lesson)
       |SELECT n.n_name, CAST(r3.r AS BIGINT) AS pr_micro,
       |  ROW_NUMBER() OVER (ORDER BY r3.r DESC, n.n_name) AS rnk
       |FROM r3 JOIN nation n ON r3.id = n.n_nationkey
       |ORDER BY rnk""".stripMargin
  }

  /** Per-order part baskets (l_orderkey, ps = the sorted distinct
    * l_partkey set) in ONE order-keyed shuffle — collect_set dedupes
    * line items of the same part, with partial aggregation map-side —
    * so [[basketPairs]] can emit the ≤ C(7,2) co-purchase pairs of each
    * basket map-side. This replaced a distinct + self-join build that
    * paid three fact-sized exchanges for the same bounded pair set.
    * [[partBasketsSql]] (the `lp` rows, one per distinct (order, part))
    * is its oracle twin; the two change together. */
  private[ops] def partBaskets(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** The oracle twin of [[partBaskets]]; the two change together. */
  private[ops] val partBasketsSql: String =
    "SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem"

  /** Every pair (x, y), x before y, of the sorted distinct array column
    * `arr` as an exploded struct with fields `a` and `b` — one row per
    * unordered pair, C(k, 2) per array of k, generated map-side. The
    * oracle mirrors it with a self-join on the basket key and
    * `a < b`. */
  private[ops] def basketPairs(arr: String, a: String, b: String): Column =
    explode(expr(
      s"""flatten(transform($arr, (x, i) ->
         |  transform(slice($arr, i + 2, size($arr) - i - 1),
         |    y -> struct(x AS $a, y AS $b))))""".stripMargin))

  /** Exact triangle counting on the part co-purchase graph (parts are
    * adjacent when some order contains both) via [[Triangles]] —
    * degree-ordered orientation, each triangle found exactly once.
    * Emits the top-15 parts by triangle participation (tie-break on
    * partkey) — all-integer, so the cross-engine hash is exact. The
    * oracle SQL runs the SAME oriented algorithm (it is plain
    * relational algebra), so both engines do bounded-wedge work.
    *
    * Scale: the pair build collects each order's basket in one shuffle
    * and emits its pairs map-side (quadratic only in ORDER BASKET SIZE,
    * ≤ 7 items in this schema — bounded, like q10's blocking);
    * everything after is the Triangles operator's equi-join
    * pipeline whose wedge volume is degree-capped at O(m^1.5) total,
    * independent of hub skew. The adjacency table is broadcast
    * (`broadcastAdj = true`): its size is |parts| · O(√m) longs —
    * ~24 MB here and still executor-sized at SF 1000 since the part
    * dimension grows far slower than lineitem. */
  def q105Triangles(s: SparkSession, dir: String): DataFrame = {
    val edges = partBaskets(s, dir)
      .select(basketPairs("ps", "u", "v").as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val tri = Triangles.perVertex(edges, "u", "v", broadcastAdj = true)
    tri.orderBy(col("n_tri").desc, col("id")).limit(15)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_tri").desc, col("id"))))
      .select(col("rnk"), col("id").as("p_partkey"), col("n_tri"))
      .orderBy("rnk")
  }

  val q105TrianglesSql: String =
    s"""WITH lp AS ($partBasketsSql),
      |canon AS (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT id, COUNT(*) AS d FROM
      |  (SELECT u AS id FROM canon UNION ALL SELECT v FROM canon) GROUP BY id),
      |o AS (SELECT
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN u ELSE v END AS a,
      |    CASE WHEN du.d < dv.d OR (du.d = dv.d AND u < v) THEN v ELSE u END AS b,
      |    greatest(du.d, dv.d) AS db
      |  FROM canon JOIN deg du ON du.id = canon.u JOIN deg dv ON dv.id = canon.v),
      |-- closing-edge check is a plain hash join (o is distinct on (a, b),
      |-- so the join multiplicity is exactly the EXISTS semantics) — the
      |-- correlated-EXISTS form made DuckDB re-probe per wedge and
      |-- dominated the t2 harness's round time
      |tri AS (SELECT e1.a, e1.b AS w1, e2.b AS w2
      |  FROM o e1 JOIN o e2 ON e1.a = e2.a
      |    AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
      |  JOIN o c ON c.a = e1.b AND c.b = e2.b),
      |pv AS (SELECT id, COUNT(*) AS n_tri FROM (
      |  SELECT a AS id FROM tri UNION ALL SELECT w1 FROM tri UNION ALL SELECT w2 FROM tri)
      |  GROUP BY id)
      |SELECT rnk, p_partkey, n_tri FROM (
      |  SELECT id AS p_partkey, n_tri,
      |    ROW_NUMBER() OVER (ORDER BY n_tri DESC, id) AS rnk FROM pv)
      |WHERE rnk <= 15 ORDER BY rnk""".stripMargin

  /** Market-basket association rules over brands-within-orders: for
    * every unordered brand pair {a, b}, the co-occurrence count and
    * the lift  N·c(a,b) / (c(a)·c(b))  — the frequent-itemset /
    * recommender primitive the triangle query's co-purchase graph
    * doesn't expose (it counts topology, not association strength).
    *
    * Parity: all counts are exact BIGINTs; lift is one double
    * division of two exactly-representable int64 products (deterministic
    * IEEE bits on both engines), rounded per the q14 discipline. The
    * corpus-size row joins on a constant "one" column; Catalyst
    * constant-folds that condition away, so the plan is the same
    * deliberate one-row BroadcastNestedLoopJoin as q43's corpus-count
    * bound — allowlisted in PLANS.md / PlanShapeSpec.
    *
    * Scale: the per-order pair build is quadratic only in DISTINCT
    * BRANDS PER ORDER (≤ basket size ≤ 7 — bounded, same class as
    * q105's pair build); items' distinct shuffle is reused across all
    * three consumers (identical exchange → ReuseExchange), pair and
    * brand counts are map-side-combinable hash aggs, and the output is
    * bounded by |brands|² regardless of fact-table size. */
  def q110BrandBasket(s: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey"))
    val p = Tables.part(s, dir).select(col("p_partkey"), col("p_brand"))
    val items = l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("ok"), col("p_brand").as("brand")).distinct()
    val n = items.select(col("ok")).distinct()
      .agg(count(lit(1)).as("n_orders")).withColumn("one", lit(1))
    val bc = items.groupBy("brand").agg(count(lit(1)).as("c"))
    // r19 (guide §2.4): the pair census as a map-side explode off the
    // per-order sorted basket — the previous items⋈items self-join paid
    // an extra ok-keyed exchange of both sides and ran its probe stage
    // on AQE-coalesced tasks; identical pair multiset (each a<b brand
    // pair once per order), one groupBy shuffle, and the q207-style
    // env-derived re-spread keeps the ≤C(k,2) expansion parallel
    val pairs = items.groupBy("ok")
      .agg(sort_array(collect_set(col("brand"))).as("bs"))
      .repartition(s.sparkContext.defaultParallelism, xxhash64(col("ok")))
      .select(basketPairs("bs", "a", "b").as("p"))
      .groupBy(col("p.a").as("brand_a"), col("p.b").as("brand_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(bc.select(col("brand").as("brand_a"), col("c").as("c_a"))),
        "brand_a")
      .join(broadcast(bc.select(col("brand").as("brand_b"), col("c").as("c_b"))),
        "brand_b")
      .withColumn("one", lit(1))
      .join(broadcast(n), "one")
      .select(col("brand_a"), col("brand_b"), col("c_ab"), col("c_a"),
        col("c_b"),
        (rnd((col("c_ab") * col("n_orders")).cast("double") /
          (col("c_a") * col("c_b")).cast("double"), 6) + 0.0).as("lift"))
      .orderBy("brand_a", "brand_b")
  }

  val q110BrandBasketSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |n AS (SELECT COUNT(*) AS n_orders FROM (SELECT DISTINCT ok FROM items)),
      |bc AS (SELECT brand, COUNT(*) AS c FROM items GROUP BY brand),
      |pairs AS (
      |  SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS c_ab
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.brand < b.brand
      |  GROUP BY 1, 2)
      |SELECT brand_a, brand_b, c_ab, ca.c AS c_a, cb.c AS c_b,
      |  ROUND(CAST(c_ab * n_orders AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE), 6)
      |    + 0 AS lift
      |FROM pairs
      |JOIN bc ca ON ca.brand = pairs.brand_a
      |JOIN bc cb ON cb.brand = pairs.brand_b
      |CROSS JOIN n
      |ORDER BY brand_a, brand_b""".stripMargin

  /** L112 degree assortativity of the part co-purchase graph (q105's
    * edge set): the Pearson correlation of endpoint degrees over the
    * symmetric edge list — positive = hubs link hubs (social-network
    * shape), negative = hubs link leaves (technological/star shape)
    * (Newman 2002). The one-number mixing diagnostic that triangle
    * counts (local clustering) don't capture. Also emits node/edge
    * counts and mean degree.
    *
    * Parity: degrees and counts are exact int64; the correlation is the
    * builtin corr over int64→double casts rounded 4dp (the q14/A9
    * discipline — both engines' one-pass co-moment forms agree far
    * below the grid).
    *
    * Scale: same bounded map-side pair build as q105 (quadratic only in
    * basket size ≤ 7); degrees are a map-side-combinable keyed agg on
    * the edge list; node count, edge count, mean degree, and the
    * correlation all come from ONE aggregation over the joined edge
    * list (each directed edge contributes once to its source's degree
    * sum, so Σd = count(*) and no second summary frame — and no
    * one-row cross join — is needed). Everything is bounded by
    * |edges|, never corpus². */
  def q174Assortativity(s: SparkSession, dir: String): DataFrame = {
    val canon = partBaskets(s, dir)
      // r19: re-spread the CPU-bound pair explode (see q207) — AQE's
      // byte-based coalescing ran it 4-way on this byte-tiny frame
      .repartition(s.sparkContext.defaultParallelism,
        xxhash64(col("l_orderkey")))
      .select(basketPairs("ps", "u", "v").as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      // one materialization of the bounded edge set: the degree census
      // and both join probes otherwise re-run the fact-sized pair build
      // (q176/q178 lineage discipline)
      .localCheckpoint()
    // ONE canon block read per consumer, not two: explode of both
    // orientations replaces the two-branch union (r20; identical rows)
    val sym = canon.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("d"))
      .select(col("u").as("id"), col("d"))
    // the degree census is VERTEX-sized (the same executor-fits class
    // as q194's broadcastAdj adjacency, which is strictly larger) —
    // broadcast both probes so the 2·m-row sym stream joins in one
    // pass with zero extra exchanges
    val j = sym
      .join(broadcast(deg.select(col("id").as("u"), col("d").as("ds"))), "u")
      .join(broadcast(deg.select(col("id").as("v"), col("d").as("dt"))), "v")
    j.agg(
        countDistinct(col("u")).as("n_nodes"),
        (count(lit(1)) / 2).cast("long").as("n_edges"),
        round(count(lit(1)).cast("double") / countDistinct(col("u")), 4)
          .as("avg_degree"),
        round(corr(col("ds").cast("double"), col("dt").cast("double")), 4)
          .as("assortativity"))
      .select("n_nodes", "n_edges", "avg_degree", "assortativity")
  }

  val q174AssortativitySql: String =
    s"""WITH lp AS (
      |  $partBasketsSql),
      |canon AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |sym AS (SELECT u, v FROM canon UNION ALL SELECT v AS u, u AS v FROM canon),
      |deg AS (SELECT u AS id, COUNT(*) AS d FROM sym GROUP BY u),
      |j AS (
      |  SELECT sym.u, du.d AS ds, dv.d AS dt
      |  FROM sym JOIN deg du ON du.id = sym.u JOIN deg dv ON dv.id = sym.v)
      |SELECT COUNT(DISTINCT u) AS n_nodes,
      |  CAST(COUNT(*) // 2 AS BIGINT) AS n_edges,
      |  ROUND(CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT u), 4) AS avg_degree,
      |  ROUND(corr(CAST(ds AS DOUBLE), CAST(dt AS DOUBLE)), 4) AS assortativity
      |FROM j""".stripMargin

  /** L114 modularity of a vertex partition (Newman–Girvan Q): score the
    * BRAND partition of the part co-purchase graph — per community c,
    * internal edges e_c, total endpoint degree d_c, and the
    * contribution e_c/m − (d_c/2m)²; Σ contributions is Q, the standard
    * "is this grouping real community structure?" yardstick for any
    * clustering the pipeline produces (label prop L66, k-means, CC).
    *
    * Parity: e_c, d_c, m are exact int64; each contribution is the
    * single-expression double chain (e_c·4m − d_c²)/(4m²) from exactly
    * representable int64 products (m ≤ ~10⁶ here, products < 2⁵³),
    * rounded 6dp.
    *
    * Scale: q105's bounded pair build; brand lookup is a broadcast
    * dimension join; both censuses are ≤|brands|-group map-side
    * combinable aggs; m rides as a driver scalar (q121 discipline). */
  def q176Modularity(s: SparkSession, dir: String): DataFrame = {
    // one materialization: the distinct edge set feeds the scalar m,
    // both census joins AND the node census — without the checkpoint
    // the fact-sized pair build re-executes three times (q101/q178
    // lineage discipline; measured 3.9 s -> ~1.5 s at sf0.1)
    val canon = partBaskets(s, dir)
      .select(basketPairs("ps", "u", "v").as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .distinct()
      .localCheckpoint()
    val brand = Tables.part(s, dir)
      .select(col("p_partkey").as("id"), col("p_brand").as("b"))
    // r20 (the q105/q176 checkpoint-volume mandate): e_c and d_c used
    // to be three separate passes over the ~100 MB canon blocks (eIn,
    // plus a two-branch union for degB). ONE exploded census computes
    // both: each edge contributes its bu endpoint (tagged `internal`
    // when bu = bv — tagging only the first element counts each
    // internal edge once) and its bv endpoint; groupBy(brand) then
    // yields d_c = endpoint count and e_c = internal-edge count. m
    // stays a count over ALL canon edges (the SQL mirror counts canon
    // BEFORE the brand join, which differs on RI-violating fuzz data).
    val m = canon.count()
    val census = canon
      .join(broadcast(brand.select(col("id").as("u"), col("b").as("bu"))), "u")
      .join(broadcast(brand.select(col("id").as("v"), col("b").as("bv"))), "v")
      .select(explode(array(
        struct(col("bu").as("brand"), (col("bu") === col("bv")).as("int")),
        struct(col("bv").as("brand"), lit(false).as("int")))).as("e"))
      .groupBy(col("e.brand").as("brand"))
      .agg(count(lit(1)).as("d_c"),
        sum(when(col("e.int"), 1L).otherwise(0L)).as("e_c"))
    val nodesB = canon.select(explode(array(col("u"), col("v"))).as("id"))
      .distinct()
      .join(broadcast(brand), "id")
      .groupBy(col("b").as("brand")).agg(count(lit(1)).as("n_nodes"))
    nodesB
      .join(census, Seq("brand"), "left")
      .select(col("brand"), col("n_nodes"),
        coalesce(col("e_c"), lit(0L)).as("e_c"),
        coalesce(col("d_c"), lit(0L)).as("d_c"))
      .withColumn("contribution", round(
        (col("e_c") * lit(4L * m) - col("d_c") * col("d_c")).cast("double") /
          lit(4.0 * m.toDouble * m.toDouble), 6))
      .orderBy("brand")
  }

  val q176ModularitySql: String =
    s"""WITH lp AS (
      |  $partBasketsSql),
      |canon AS (
      |  SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |m AS (SELECT COUNT(*) AS m FROM canon),
      |br AS (SELECT p_partkey AS id, p_brand AS b FROM part),
      |wb AS (
      |  SELECT bu.b AS bu, bv.b AS bv FROM canon
      |  JOIN br bu ON bu.id = canon.u JOIN br bv ON bv.id = canon.v),
      |ein AS (
      |  SELECT bu AS brand, COUNT(*) AS e_c FROM wb
      |  WHERE bu = bv GROUP BY bu),
      |degb AS (
      |  SELECT brand, COUNT(*) AS d_c FROM (
      |    SELECT bu AS brand FROM wb UNION ALL SELECT bv FROM wb)
      |  GROUP BY brand),
      |nodesb AS (
      |  SELECT br.b AS brand, COUNT(*) AS n_nodes FROM (
      |    SELECT u AS id FROM canon UNION SELECT v FROM canon) n
      |  JOIN br ON br.id = n.id GROUP BY br.b)
      |SELECT nb.brand, nb.n_nodes,
      |  CAST(COALESCE(e.e_c, 0) AS BIGINT) AS e_c,
      |  CAST(COALESCE(d.d_c, 0) AS BIGINT) AS d_c,
      |  ROUND(CAST(COALESCE(e.e_c, 0) * 4 * m.m
      |      - COALESCE(d.d_c, 0) * COALESCE(d.d_c, 0) AS DOUBLE)
      |    / (4.0 * m.m * m.m), 6) AS contribution
      |FROM nodesb nb
      |LEFT JOIN degb d USING (brand)
      |LEFT JOIN ein e ON e.brand = nb.brand
      |CROSS JOIN m
      |ORDER BY brand""".stripMargin

  /** L116 multi-source BFS hop distance: shortest hop count from a seed
    * set (every part of one brand) to every reachable part over the
    * SUPPORT-THRESHOLDED co-purchase graph (pairs co-bought in ≥ 2
    * orders — the raw graph at fixture density is diameter ≤ 2, the
    * thresholded one has real structure: hop levels 0..6 both SFs).
    * Emits the per-level census (n first reached at hop h + an exact
    * id-sum witness) — the "proximity to a trusted/contaminated seed
    * set" primitive that CC (q84) and PageRank (q101) don't give.
    *
    * Oracle: DuckDB's recursive CTE with UNION-distinct semantics keeps
    * (id, hop) rows, so MIN(hop) per id is exactly the Spark side's
    * first-reach level; the working set is bounded by nodes × maxHops,
    * never path-enumeration (which would be combinatorial here).
    *
    * Scale: the edge build is the one fact-table shuffle (q105's
    * bounded per-basket pair expansion, then a map-side-combinable
    * support count); each of the ≤ 6 iterations is frontier ⋈ edges
    * (equi-join on the edge key) plus an anti-join against visited —
    * the Pregel step shape, frontier-sized, never all-pairs. Rounds run
    * on the [[Fixpoint]] driver over the visited (id, hop) set, whose
    * changed rows are the new frontier; all counts/sums exact int64. */
  def q178BfsHops(s: SparkSession, dir: String): DataFrame = {
    val canon = partBaskets(s, dir)
      // r19: re-spread the CPU-bound pair explode (see q207/q174)
      .repartition(s.sparkContext.defaultParallelism,
        xxhash64(col("l_orderkey")))
      .select(basketPairs("ps", "u", "v").as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .groupBy("u", "v").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).drop("c")
    // ONE execution of the thresholded pair agg, not two: explode of
    // both orientations replaces the union of the canon subtree with
    // its swapped self (r20; identical edge set)
    val edges = canon.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
      .localCheckpoint()
    val seeds = Tables.part(s, dir)
      .filter(col("p_brand") === "Brand#11")
      .select(col("p_partkey").as("id"))
    // round r reaches hop r from the frontier, hop r − 1; the early
    // exit is the first round that reaches no new vertex. One full outer
    // join on id keeps the visited set and adds the unvisited reached
    // vertices, so the state's partition count does not grow by round.
    val level0 = seeds.select(col("id"), lit(0).as("hop"), lit(false).as("changed"))
    Fixpoint.iterate(level0, 6) { (visited, r) =>
      visited.filter(col("hop") === r - 1)
        .select(col("id").as("fid"))
        .join(edges, col("fid") === col("u"))
        .select(col("v").as("id")).distinct()
        .join(visited.select("id", "hop"), Seq("id"), "full_outer")
        .select(col("id"), coalesce(col("hop"), lit(r)).as("hop"),
          col("hop").isNull.as("changed"))
    }.state.groupBy("hop")
      .agg(count(lit(1)).as("n_nodes"), sum("id").as("sum_id"))
      .orderBy("hop")
  }

  val q178BfsHopsSql: String =
    s"""WITH RECURSIVE lp AS (
      |  $partBasketsSql),
      |canon AS (
      |  SELECT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p
      |  GROUP BY 1, 2 HAVING COUNT(*) >= 2),
      |edges AS (SELECT u, v FROM canon UNION ALL SELECT v, u FROM canon),
      |bfs(id, hop) AS (
      |  SELECT p_partkey, 0 FROM part WHERE p_brand = 'Brand#11'
      |  UNION
      |  SELECT e.v, b.hop + 1 FROM bfs b JOIN edges e ON e.u = b.id
      |  WHERE b.hop < 6),
      |d AS (SELECT id, MIN(hop) AS hop FROM bfs GROUP BY id)
      |SELECT hop, COUNT(*) AS n_nodes, CAST(SUM(id) AS BIGINT) AS sum_id
      |FROM d GROUP BY hop ORDER BY hop""".stripMargin

  /** L132 local clustering coefficient (Watts–Strogatz 1998 [PK]) over
    * the co-purchase graph — cc(v) = 2·tri(v)/(deg(v)·(deg(v)−1)), the
    * per-node "how clique-like is my neighborhood" score that the
    * global statistics don't give: q105 counts triangles, q176 scores a
    * PARTITION, q174 correlates degrees; cc ranks individual products
    * by neighborhood cohesion (bundle detection). Nodes with deg ≥ 2
    * and ZERO triangles must appear with cc = 0 — dropping them would
    * bias every aggregate downstream.
    *
    * Parity: tri and deg are exact int64 from the q105 edge build; cc
    * is one (2·tri)::double / (deg·(deg−1))::double division. Top-25 by
    * (cc desc, id) is an exact-rational ordering decided on identical
    * doubles.
    *
    * Scale: the bounded basket-pair build (≤C(7,2)/order), the q105
    * triangle machinery (degree-ordered wedge join), and two keyed
    * aggs. Nothing beyond what q105 already pays. */
  def q194ClusteringCoef(s: SparkSession, dir: String): DataFrame = {
    // pairs off a sorted distinct basket are already canonical per
    // order (u < v, non-null); ONE distinct collapses cross-order
    // duplicates, then the fused operator checkpoints once and shares
    // its degree census between orientation and the cc denominator —
    // r19: the previous perVertex composition re-canonicalized (an
    // extra 3M-edge exchange + 100 MB checkpoint) and re-derived deg
    val edges = partBaskets(s, dir)
      // r19: re-spread the CPU-bound pair explode (see q207/q174)
      .repartition(s.sparkContext.defaultParallelism,
        xxhash64(col("l_orderkey")))
      .select(basketPairs("ps", "u", "v").as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).distinct()
    val dt = Triangles.perVertexWithDeg(edges, "u", "v",
      broadcastAdj = true)
    val cc = (col("n_tri") * 2L).cast("double") /
      (col("deg") * (col("deg") - 1L)).cast("double")
    dt.filter(col("deg") >= 2L)
      .select(col("id").as("p_partkey"), col("deg"), col("n_tri"),
        cc.as("cc"))
      .orderBy(col("cc").desc, col("p_partkey")).limit(25)
  }

  val q194ClusteringCoefSql: String =
    s"""WITH lp AS ($partBasketsSql),
      |canon AS (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT id, COUNT(*) AS deg FROM
      |  (SELECT u AS id FROM canon UNION ALL SELECT v FROM canon) GROUP BY id),
      |o AS (SELECT
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS a,
      |    CASE WHEN du.deg < dv.deg OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS b,
      |    greatest(du.deg, dv.deg) AS db
      |  FROM canon JOIN deg du ON du.id = canon.u JOIN deg dv ON dv.id = canon.v),
      |tri AS (SELECT e1.a, e1.b AS w1, e2.b AS w2
      |  FROM o e1 JOIN o e2 ON e1.a = e2.a
      |    AND (e1.db < e2.db OR (e1.db = e2.db AND e1.b < e2.b))
      |  JOIN o c ON c.a = e1.b AND c.b = e2.b),
      |pv AS (SELECT id, COUNT(*) AS n_tri FROM (
      |  SELECT a AS id FROM tri UNION ALL SELECT w1 FROM tri
      |  UNION ALL SELECT w2 FROM tri) GROUP BY id)
      |SELECT deg.id AS p_partkey, deg, COALESCE(n_tri, 0) AS n_tri,
      |  CAST(COALESCE(n_tri, 0) * 2 AS DOUBLE)
      |    / CAST(deg * (deg - 1) AS DOUBLE) AS cc
      |FROM deg LEFT JOIN pv ON pv.id = deg.id
      |WHERE deg >= 2
      |ORDER BY cc DESC, p_partkey LIMIT 25""".stripMargin

  /** L142 Adamic–Adar link prediction over the customer–brand
    * bipartite graph: for every brand pair sharing customers, the
    * common-neighbor count and the Adamic–Adar score Σ_c 1/ln(deg c)
    * (Adamic & Adar 2003 [PK]) — shared rare customers predict a link,
    * shared hub customers barely count. The standard
    * recommendation/link-prediction primitive at its natural blocked
    * shape: wedges enumerate per CUSTOMER from the sorted brand
    * basket, bounded by C(|brands|, 2) = C(25,2) = 300 per customer,
    * never all-pairs over customers.
    *
    * Parity: each customer's AA term is quantized to int64 micro-units
    * BEFORE summing (floor(1e6/ln n + 0.5) — the q196 quantum, coarse
    * enough that a 1-ulp libm ln divergence cannot flip it), so the
    * per-pair sums are exact-integer and partition-order independent;
    * the top-30 cut orders on (cn desc, a, b) — all exact.
    *
    * Scale: one distinct + one basket agg (customer-keyed shuffles),
    * map-side bounded wedge explode, ≤C(25,2)-group census. */
  def q207AdamicAdar(s: SparkSession, dir: String): DataFrame = {
    // no pre-distinct: collect_set dedups inside ONE customer-keyed
    // shuffle (with partial aggregation map-side), where distinct +
    // collect_set paid two
    val baskets = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("b"))
      .groupBy("c")
      .agg(sort_array(collect_set(col("b"))).as("bs"))
      .filter(size(col("bs")) >= 2)
      // r19 (guide §2.5/§8): the wedge explode + pair census below is
      // CPU-bound (≤C(25,2) hash-agg updates per basket) but its input
      // is byte-tiny (1 row per customer), so AQE's byte-based
      // coalescing ran it on ONE task (profiled 2.9 s single-thread at
      // sf0.1). Hash-repartition the basket PROXY rows — not the pair
      // volume — across the env-derived core count; explicit N keeps
      // AQE from re-coalescing, and the shuffle stays customer-sized
      // at every SF while the expansion stage scales with the machine.
      // (keyed on xxhash64(c), not c: the child is already hash-
      // partitioned by c with the same count, and an identical-key
      // repartition is elided by the planner — observed r19)
      .repartition(s.sparkContext.defaultParallelism, xxhash64(col("c")))
    val wq = floor(lit(1.0e6) / log(size(col("bs")).cast("double")) +
      lit(0.5)).cast("long")
    baskets.withColumn("wq", wq)
      .select(basketPairs("bs", "a", "b").as("p"),
        col("wq"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cn"), sum(col("wq")).as("aaq"))
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(30)
      .select(col("a"), col("b"), col("cn"), col("aaq"),
        (round(col("aaq") / 1.0e6, 6) + 0.0).as("aa"))
  }

  val q207AdamicAdarSql: String =
    """WITH cb AS (
      |  SELECT DISTINCT o_custkey AS c, p_brand AS b
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |degc AS (SELECT c, COUNT(*) AS n FROM cb GROUP BY c),
      |w AS (
      |  SELECT x.b AS a, y.b AS b, x.c
      |  FROM cb x JOIN cb y ON x.c = y.c AND x.b < y.b),
      |t AS (
      |  SELECT a, b, COUNT(*) AS cn,
      |    CAST(SUM(CAST(FLOOR(1e6 / ln(CAST(n AS DOUBLE)) + 0.5)
      |      AS BIGINT)) AS BIGINT) AS aaq
      |  FROM w JOIN degc USING (c) WHERE n >= 2 GROUP BY a, b)
      |SELECT t.a, t.b, cn, aaq, ROUND(CAST(aaq AS DOUBLE) / 1e6, 6) + 0 AS aa
      |FROM t ORDER BY cn DESC, a, b LIMIT 30""".stripMargin

  /** L146 HITS hubs & authorities (Kleinberg 1999 [PK]) over the
    * weighted customer→brand bipartite graph (weight = lineitem count):
    * two full mutual-reinforcement iterations — authority a₁ = in-weight
    * degree, hub h₁(c) = Σ_b w·a₁(b), authority a₂(b) = Σ_c w·h₁(c) —
    * the "good hubs point at good authorities" counterpart to
    * PageRank's random surfer (q101).
    *
    * Parity: unnormalized scores ride exact 128-bit integer arithmetic
    * (Spark DECIMAL(38,0) with casts BEFORE each multiply / DuckDB
    * HUGEINT — the q208 discipline; a₂ ≤ Σw·(Σw)² overflows int64 past
    * sf≈0.3 but fits 38 digits through sf 10⁶). Only the DISPLAYED
    * authority divides by max(a₂) — one identical double chain, 6dp;
    * output order is (rounded authority desc, brand) — the q53
    * rank-on-ROUNDED-value discipline (hazard #4).
    *
    * Scale: one fact join collapses to the ≤|customers|·|brands| edge
    * list (eager localCheckpoint — the q101/q176 fixed-point lineage
    * discipline: e feeds all three iteration levels of one plan tree);
    * each iteration is a broadcast (≤|brands| census) or customer-keyed
    * equi-join + map-side-combinable agg; the final window runs over
    * the ≤|brands| census. */
  def q209Hits(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("c"), col("p_brand").as("b"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
    val a1 = e.groupBy("b").agg(sum(col("w")).as("wdeg"))
    val h1 = e.join(broadcast(a1), "b")
      .groupBy("c")
      .agg(sum(col("w").cast(dec) * col("wdeg").cast(dec)).as("h"))
    val a2 = e.join(h1, "c")
      .groupBy("b")
      .agg(sum(col("w").cast(dec) * col("h")).as("a2"))
    val w = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    a2.join(broadcast(a1), "b")
      .withColumn("mx", max(col("a2")).over(w))
      .select(col("b").as("brand"), col("wdeg"),
        (round(col("a2").cast("double") / col("mx").cast("double"), 6)
          + 0.0).as("authority"))
      .orderBy(col("authority").desc, col("brand"))
  }

  val q209HitsSql: String =
    """WITH e AS (
      |  SELECT o_custkey AS c, p_brand AS b, COUNT(*) AS w
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN part ON l_partkey = p_partkey
      |  GROUP BY 1, 2),
      |a1 AS (SELECT b, CAST(SUM(w) AS BIGINT) AS wdeg FROM e GROUP BY b),
      |h1 AS (
      |  SELECT c, SUM(CAST(w AS HUGEINT) * CAST(wdeg AS HUGEINT)) AS h
      |  FROM e JOIN a1 USING (b) GROUP BY c),
      |a2 AS (
      |  SELECT b, SUM(CAST(w AS HUGEINT) * h) AS a2
      |  FROM e JOIN h1 USING (c) GROUP BY b)
      |SELECT a2.b AS brand, wdeg,
      |  ROUND(CAST(a2 AS DOUBLE) / CAST(MAX(a2) OVER () AS DOUBLE), 6) + 0
      |    AS authority
      |FROM a2 JOIN a1 USING (b)
      |ORDER BY authority DESC, brand""".stripMargin

  /** L179 rich-club coefficient (Zhou & Mondragón 2004 [PK]) over the
    * co-purchase graph: for each degree threshold k in the ladder
    * {2, 4, 8, 16}, the density φ(k) = 2E_k/(N_k(N_k−1)) of the
    * subgraph induced by nodes with degree > k — do the hubs trade
    * with EACH OTHER? The hub-interconnection diagnostic beside
    * assortativity (q174: correlation across ALL edges) and
    * clustering (q194: local wedges).
    *
    * Parity: degrees, N_k, and E_k are exact integer censuses
    * (an edge survives threshold k iff min(deg_u, deg_v) > k); φ is
    * one double division, 6dp; φ is 0 by convention when N_k < 2.
    *
    * Scale: the q194 edge set (distinct, checkpointed once); degree
    * census broadcast onto edges (the q174 pattern); the 4-row ladder
    * broadcasts over two small censuses — fact data is scanned once. */
  def q245RichClub(s: SparkSession, dir: String): DataFrame = {
    val edges = partBaskets(s, dir)
      // r19: re-spread the CPU-bound pair explode (see q207/q174)
      .repartition(s.sparkContext.defaultParallelism,
        xxhash64(col("l_orderkey")))
      .select(basketPairs("ps", "u", "v").as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")).distinct()
      .localCheckpoint(eager = false)
    val deg = edges.select(col("u").as("id"))
      .union(edges.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val me = edges
      .join(broadcast(deg.select(col("id").as("u"), col("deg").as("du"))),
        "u")
      .join(broadcast(deg.select(col("id").as("v"), col("deg").as("dv"))),
        "v")
      .select(least(col("du"), col("dv")).as("md"))
      .groupBy("md").agg(count(lit(1)).as("ne"))
    val ladder = s.range(1).select(
      explode(array(lit(2L), lit(4L), lit(8L), lit(16L))).as("k"))
    // one tagged census union → ONE non-equi ladder join (two separate
    // joins would double the plan's nested-loop budget)
    val items = deg
      .select(col("deg").as("v"), lit(1L).as("nodes"), lit(0L).as("edges"))
      .unionAll(me.select(col("md").as("v"), lit(0L).as("nodes"),
        col("ne").as("edges")))
    ladder.join(items, col("v") > col("k"), "left")
      .groupBy("k")
      .agg(coalesce(sum(col("nodes")), lit(0L)).as("n_nodes"),
        coalesce(sum(col("edges")), lit(0L)).as("n_edges"))
      .select(col("k"), col("n_nodes"), col("n_edges"),
        when(col("n_nodes") > 1,
          round(col("n_edges").cast("double") * 2.0 /
            (col("n_nodes").cast("double") * (col("n_nodes") - 1)), 6)
            + 0.0)
          .otherwise(0.0).as("phi"))
      .orderBy("k")
  }

  val q245RichClubSql: String =
    s"""WITH lp AS ($partBasketsSql),
      |canon AS (SELECT DISTINCT a.p AS u, b.p AS v
      |  FROM lp a JOIN lp b ON a.ok = b.ok AND a.p < b.p),
      |deg AS (SELECT id, COUNT(*) AS deg FROM
      |  (SELECT u AS id FROM canon UNION ALL SELECT v FROM canon)
      |  GROUP BY id),
      |me AS (
      |  SELECT LEAST(du.deg, dv.deg) AS md, COUNT(*) AS ne
      |  FROM canon JOIN deg du ON du.id = canon.u
      |  JOIN deg dv ON dv.id = canon.v
      |  GROUP BY 1),
      |ladder AS (SELECT unnest([2, 4, 8, 16]) AS k),
      |items AS (
      |  SELECT deg AS v, 1 AS nodes, 0 AS edges FROM deg
      |  UNION ALL
      |  SELECT md AS v, 0 AS nodes, ne AS edges FROM me),
      |g AS (
      |  SELECT k,
      |    CAST(COALESCE(SUM(nodes), 0) AS BIGINT) AS n_nodes,
      |    CAST(COALESCE(SUM(edges), 0) AS BIGINT) AS n_edges
      |  FROM ladder LEFT JOIN items ON v > k GROUP BY k)
      |SELECT k, n_nodes, n_edges,
      |  CASE WHEN n_nodes > 1 THEN
      |    ROUND(CAST(n_edges AS DOUBLE) * 2.0
      |      / (CAST(n_nodes AS DOUBLE) * (n_nodes - 1)), 6) + 0
      |  ELSE 0.0 END AS phi
      |FROM g
      |ORDER BY k""".stripMargin
  /** L261 link-prediction index panel ([PK] Liben-Nowell & Kleinberg
    * 2003; Zhou, Lü & Zhang 2009 for resource allocation): Jaccard,
    * preferential attachment, and resource-allocation scores for the
    * top brand pairs of the q207 customer–brand graph — the three
    * standard baselines reported NEXT TO Adamic–Adar before picking a
    * candidate generator for a recommendation join. Jaccard penalizes
    * hub pairs, PA ranks pure popularity, RA sharpens AA's
    * discounting (1/deg instead of 1/ln deg); disagreement between
    * the columns is the signal.
    *
    * Parity: cn and the brand degrees are exact ints off two keyed
    * censuses; RA rides the q207 quantization (each customer's 1/deg
    * term floored to int64 micro-units before summing); Jaccard is
    * one exact-int division, 6dp; PA is an exact int64 product. The
    * top-30 cut is the q207 (cn desc, a, b) exact-integer order.
    *
    * Scale: the q207 wedge shape (per-customer bounded explode, ≤
    * C(25,2) pair census) plus one ≤25-row broadcast degree census —
    * nothing new shuffles. */
  def q327LinkPanel(s: SparkSession, dir: String): DataFrame = {
    val cb = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir),
        col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(Tables.part(s, dir)),
        col("l_partkey") === col("p_partkey"))
      .select(col("o_custkey").as("c"), col("p_brand").as("b"))
    val baskets = cb.groupBy("c")
      .agg(sort_array(collect_set(col("b"))).as("bs"))
      .filter(size(col("bs")) >= 2)
      // r19: same env-derived re-spread as q207 (see there) — the pair
      // explode below otherwise runs on ~1 AQE-coalesced task
      .repartition(s.sparkContext.defaultParallelism, xxhash64(col("c")))
      .localCheckpoint(eager = false)
    // brand degree census (≤25 rows) straight off the baskets so both
    // consumers share one shuffle
    val deg = baskets.select(explode(col("bs")).as("b"))
      .groupBy("b").agg(count(lit(1)).as("deg"))
    val raq = floor(lit(1.0e6) / size(col("bs")).cast("double") +
      lit(0.5)).cast("long")
    val pairs = baskets.withColumn("raq", raq)
      .select(basketPairs("bs", "a", "b").as("p"),
        col("raq"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cn"), sum(col("raq")).as("raqs"))
    val da = deg.select(col("b").as("a"), col("deg").as("deg_a"))
    val db = deg.select(col("b").as("b2"), col("deg").as("deg_b"))
    pairs.join(broadcast(da), "a")
      .join(broadcast(db), pairs("b") === col("b2"))
      .orderBy(col("cn").desc, col("a"), col("b"))
      .limit(30)
      .select(col("a"), col("b"), col("cn"),
        col("deg_a").cast("long").as("deg_a"),
        col("deg_b").cast("long").as("deg_b"),
        Parity.fix(col("cn").cast("double") /
          (col("deg_a") + col("deg_b") - col("cn")).cast("double"), 6)
          .as("jaccard"),
        (col("deg_a") * col("deg_b")).cast("long").as("pref_attach"),
        (round(col("raqs") / 1.0e6, 6) + 0.0).as("res_alloc"))
      .orderBy(col("cn").desc, col("a"), col("b"))
  }

  val q327LinkPanelSql: String =
    s"""WITH cb AS (
      |  SELECT DISTINCT o_custkey AS c, p_brand AS b
      |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN part ON l_partkey = p_partkey),
      |degc AS (SELECT c, COUNT(*) AS n FROM cb GROUP BY c),
      |cb2 AS (
      |  SELECT cb.c, cb.b, degc.n FROM cb JOIN degc USING (c)
      |  WHERE degc.n >= 2),
      |deg AS (SELECT b, COUNT(*) AS deg FROM cb2 GROUP BY b),
      |w AS (
      |  SELECT x.b AS a, y.b AS b, x.n
      |  FROM cb2 x JOIN cb2 y ON x.c = y.c AND x.b < y.b),
      |t AS (
      |  SELECT a, b, COUNT(*) AS cn,
      |    CAST(SUM(CAST(FLOOR(1e6 / n + 0.5) AS BIGINT)) AS BIGINT)
      |      AS raqs
      |  FROM w GROUP BY a, b)
      |SELECT t.a, t.b, cn,
      |  CAST(dega.deg AS BIGINT) AS deg_a, CAST(degb.deg AS BIGINT)
      |    AS deg_b,
      |  ${Parity.fixSql("CAST(cn AS DOUBLE) / (dega.deg + degb.deg - cn)", 6)} + 0
      |    AS jaccard,
      |  CAST(dega.deg * degb.deg AS BIGINT) AS pref_attach,
      |  ROUND(CAST(raqs AS DOUBLE) / 1e6, 6) + 0 AS res_alloc
      |FROM t JOIN deg dega ON t.a = dega.b
      |JOIN deg degb ON t.b = degb.b
      |ORDER BY cn DESC, t.a, t.b LIMIT 30""".stripMargin
}
