package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Near-duplicate detection operators L3–L5 (SURVEY.md §2.8): edit
  * distance, token-set jaccard, char n-gram jaccard, and a full
  * MinHash+LSH banding pipeline — all oracle-checked against DuckDB
  * (portable polynomial hashes, see TextFns; the MLlib MinHashLSH
  * variant is covered in ScalaTest, where sketches need no oracle).
  *
  * Scale notes: every self-join is blocked — by attribute (second token,
  * lang × length bucket) or by LSH band key — so candidate generation is
  * a hash-partitioned equi-join, never a cross product. At 100 TB the
  * band-key join is the only shape that survives: candidates ∝ true
  * near-dups, not |corpus|².
  */
object DedupQueries {

  /** The blocked part-name pairs of the fuzzy-name family (q48, q161,
    * q163): distinct part names paired within one (noun = second token,
    * 8-char length band) block, each unordered pair once as
    * `name_a < name_b`. [[namePairsSql]] is its oracle twin; the two
    * change together. */
  private[ops] def namePairs(s: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(s, dir).select(col("p_name")).distinct()
      .withColumn("noun", element_at(split(col("p_name"), " "), 2))
      .withColumn("len_bkt", (length(col("p_name")) / 8).cast("long"))
    val a = names.select(col("p_name").as("name_a"), col("noun"), col("len_bkt"))
    val b = names.select(col("p_name").as("name_b"), col("noun"), col("len_bkt"))
    a.join(b, Seq("noun", "len_bkt"))
      .filter(col("name_a") < col("name_b"))
  }

  /** The `FROM … JOIN … ON` clause over parts `a` and `b`, the oracle
    * twin of [[namePairs]]; callers may append `AND` conditions. The
    * two change together. */
  private[ops] val namePairsSql: String =
    """FROM (SELECT DISTINCT p_name FROM part) a
      |  JOIN (SELECT DISTINCT p_name FROM part) b
      |    ON string_split(a.p_name, ' ')[2] = string_split(b.p_name, ' ')[2]
      |   AND length(a.p_name) // 8 = length(b.p_name) // 8
      |   AND a.p_name < b.p_name""".stripMargin

  /** L3 fuzzy dedup: near-identical part names by edit distance, blocked
    * on (noun = second token, length band) — the compound block is part
    * of the operator contract, mirrored in the oracle (the q49 len_bkt
    * discipline). A single-token block's pair count grows quadratically
    * with the number of names per noun; composing an 8-char length band
    * multiplies the block count by the band fan-out, and a
    * length-difference prefilter (lev ≤ 4 forces |len_a − len_b| ≤ 4 —
    * an edit changes the length by at most 1) prunes the survivors
    * BEFORE the O(len²) levenshtein kernel runs. Shrinkage is pinned by
    * DedupBlockingSpec on a deliberately single-noun fixture. */
  def q48FuzzyNames(s: SparkSession, dir: String): DataFrame = {
    namePairs(s, dir)
      .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 4)
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= 4)
      .select("name_a", "name_b", "lev")
      .orderBy("name_a", "name_b")
  }

  val q48FuzzyNamesSql: String =
    s"""SELECT name_a, name_b, lev FROM (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    levenshtein(a.p_name, b.p_name) AS lev
      |  $namePairsSql
      |   AND abs(length(a.p_name) - length(b.p_name)) <= 4)
      |WHERE lev <= 4 ORDER BY name_a, name_b""".stripMargin

  /** L4 token-set jaccard near-dups, blocked by (lang, length bucket).
    * Corpus vocabulary is tiny so baseline jaccard is ~0.7 — the 0.95
    * threshold isolates genuine near-duplicates.
    *
    * The oracle SQL stays the all-pairs-within-block definition (the
    * semantic spec); the Spark plan generates candidates by LOSSLESS
    * prefix filtering (AllPairs/PPJoin, Bayardo WWW'07 — the
    * [[PrefixJoin]] scheme, here composed with the block keys):
    * re-order every document's tokens by one global
    * (document-frequency asc, token asc) order, index only the first
    * |S| − ceil(0.95·|S|) + 1 tokens (its RAREST ones), and equi-join
    * on (lang, len_bkt, prefix-token). Any pair with jac ≥ 0.95 shares
    * a prefix token under a common total order (pigeonhole: missing
    * the whole prefix would leave fewer than ceil(0.95·|S|) shared
    * tokens), so recall is 1 by proof, precision 1 by the exact verify
    * — hash-identical to the all-pairs oracle, unlike MinHash bands
    * (q51), which miss a 0.95-pair with probability ≈ 9e-5 and can
    * never sit under this oracle.
    *
    * Scale contract (the round-6 change — this was the suite's one
    * deliberately quadratic plan through r5): candidate volume is
    * Σ_prefix-token f², driven by RARE-token co-occurrence, versus
    * Σ_block n² for the old within-block all-pairs join. Every stage
    * is a hash-partitioned equi-join or map-side-combinable agg; the
    * df table is data (joined, never collected), so vocabulary size
    * is unbounded. PlanShapeSpec pins the prefix-token join key. */
  def q49TokenJaccard(s: SparkSession, dir: String): DataFrame = {
    val t = Tables.documents(s, dir).select(
      col("doc_id"), col("lang"),
      (col("n_chars") / 100).cast("long").as("len_bkt"),
      array_distinct(tokens(col("text"))).as("toks"))
    // one global token order, rarest first: prefixes then hold each
    // document's most selective tokens and the candidate buckets stay
    // small (a token in f docs yields ≤ f(f−1)/2 candidates; frequent
    // tokens never reach the index)
    val dfreq = t.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val ordered = t
      .select(col("doc_id"), col("lang"), col("len_bkt"),
        explode(col("toks")).as("tok"))
      .join(dfreq, "tok")
      .groupBy("doc_id", "lang", "len_bkt")
      .agg(transform(
        array_sort(collect_list(struct(col("df"), col("tok")))),
        _.getField("tok")).as("toks"))
      // the re-ordered corpus feeds three consumers (prefix index + both
      // verify sides); materialize it once — the same reordered-corpus
      // artifact every AllPairs implementation builds before indexing —
      // instead of re-running tokenize + df-join per consumer
      .localCheckpoint()
    val pLen = (size(col("toks")) - ceil(lit(0.95) * size(col("toks"))) + 1)
      .cast("int")
    // the inverted index carries IDS ONLY — the token arrays would
    // otherwise be replicated once per prefix token through the
    // candidate join and its dedup shuffle; verification re-fetches
    // them for just the surviving pairs (the PPJoin serving split:
    // candidate generation on keys, verify on payloads)
    val idx = ordered.select(col("doc_id"), col("lang"), col("len_bkt"),
      explode(slice(col("toks"), lit(1), pLen)).as("ptok"))
      // r19 (guide §2.5): pin the candidate self-join's partitioning at
      // the env-derived core count — the index is byte-tiny (ids only),
      // so AQE's byte-based coalescing ran the quadratic-per-bucket
      // candidate+verify stage near-serially; both join sides reuse this
      // one exchange (same subtree), so no extra shuffle is added
      .repartition(s.sparkContext.defaultParallelism,
        col("lang"), col("len_bkt"), col("ptok"))
    val cand = idx.select(col("doc_id").as("doc_a"), col("lang"),
        col("len_bkt"), col("ptok"))
      .join(idx.select(col("doc_id").as("doc_b"), col("lang"),
        col("len_bkt"), col("ptok")),
        Seq("lang", "len_bkt", "ptok"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
    cand
      .join(ordered.select(col("doc_id").as("doc_a"), col("toks").as("toks_a")),
        "doc_a")
      .join(ordered.select(col("doc_id").as("doc_b"), col("toks").as("toks_b")),
        "doc_b")
      .withColumn("jac",
        graft.functions.SimFns.jaccardSim(col("toks_a"), col("toks_b")))
      .filter(col("jac") >= 0.95)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  val q49TokenJaccardSql: String =
    """WITH t AS (
      |  SELECT doc_id, lang, n_chars // 100 AS len_bkt,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents)
      |SELECT doc_a, doc_b, ROUND(jac, 4) AS jac FROM (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      |      / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) AS jac
      |  FROM t a JOIN t b
      |    ON a.lang = b.lang AND a.len_bkt = b.len_bkt AND a.doc_id < b.doc_id)
      |WHERE jac >= 0.95 ORDER BY doc_a, doc_b""".stripMargin

  /** Char 3-gram jaccard over part names. Candidates come from a gram
    * inverted index — explode each name's distinct 3-grams and equi-join
    * on the gram — which is LOSSLESS for any threshold > 0 (jac > 0
    * requires at least one shared gram), so the output matches the
    * all-pairs oracle exactly while the plan stays a hash-partitioned
    * equi-join (no CartesianProduct). Candidate volume ∝ gram
    * co-occurrence, not |dictionary|²; at web scale you'd add prefix
    * filtering (index only each name's rarest grams) to shrink the hot
    * gram buckets, or go to the q51 band keys. */
  def q50CharGramJaccard(s: SparkSession, dir: String): DataFrame = {
    val grams3 = (nm: org.apache.spark.sql.Column) =>
      array_distinct(transform(sequence(lit(1), length(nm) - 2),
        i => nm.substr(i, lit(3))))
    val t = Tables.part(s, dir).select(col("p_name")).distinct()
      .withColumn("g", grams3(col("p_name")))
    val ex = t.select(col("p_name"), col("g"), explode(col("g")).as("gram"))
    val cand = ex.select(col("p_name").as("name_a"), col("g").as("ga"),
        col("gram"))
      .join(ex.select(col("p_name").as("name_b"), col("g").as("gb"),
        col("gram")), "gram")
      .filter(col("name_a") < col("name_b"))
      .select("name_a", "name_b", "ga", "gb").distinct()
    cand
      .withColumn("jac",
        graft.functions.SimFns.jaccardSim(col("ga"), col("gb")))
      .filter(col("jac") >= 0.3)
      .select(col("name_a"), col("name_b"), round(col("jac"), 4).as("jac"))
      .orderBy("name_a", "name_b")
  }

  val q50CharGramJaccardSql: String =
    """WITH t AS (
      |  SELECT p_name, list_distinct(list_transform(
      |    generate_series(1, length(p_name) - 2),
      |    i -> substr(p_name, i, 3))) AS g
      |  FROM (SELECT DISTINCT p_name FROM part))
      |SELECT name_a, name_b, ROUND(jac, 4) AS jac FROM (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |      / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) AS jac
      |  FROM t a CROSS JOIN t b WHERE a.p_name < b.p_name)
      |WHERE jac >= 0.3 ORDER BY name_a, name_b""".stripMargin

  /** L5 MinHash + LSH banding over 3-token shingles, end to end:
    * shingle → 8-hash MinHash signature → 4 bands × 2 rows → band-key
    * equi-join for candidates → exact shingle-jaccard verification at
    * 0.8. Shingling makes baseline jaccard ≈ 0 (verified on fixtures),
    * so candidates ∝ true near-dups — the sub-quadratic scale path. */
  def q51MinHashLsh(s: SparkSession, dir: String): DataFrame = {
    val seeds = Seq((37L, 17L), (101L, 29L), (193L, 43L), (271L, 59L),
      (389L, 71L), (577L, 89L), (691L, 97L), (811L, 113L))
    val t = Tables.documents(s, dir).select(
        col("doc_id"), shingleHashes(tokenHashes(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
      .withColumn("shd", array_distinct(col("sh")))
    val sig = t.withColumn("sig", minHashSignature(col("shd"), seeds))
    val bands = sig.select(col("doc_id"), col("shd"),
      explode(bandKeys(col("sig"), nBands = 4, rowsPerBand = 2)).as("bk"))
    val cand = bands.select(col("doc_id").as("doc_a"), col("bk"),
        col("shd").as("sh_a"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bk"),
        col("shd").as("sh_b")).hint("shuffle_hash"), "bk")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val uni = size(col("sh_a")) + size(col("sh_b")) -
      size(array_intersect(col("sh_a"), col("sh_b")))
    cand.withColumn("jac", inter / uni)
      .filter(col("jac") >= 0.8)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jac"))
      .orderBy("doc_a", "doc_b")
  }

  val q51MinHashLshSql: String = {
    val seeds = Seq((37L, 17L), (101L, 29L), (193L, 43L), (271L, 59L),
      (389L, 71L), (577L, 89L), (691L, 97L), (811L, 113L))
    val sigList = seeds.map { case (a, b) =>
      s"list_min(list_transform(shd, x -> ($a * x + $b) % $P))"
    }.mkString("[", ", ", "]")
    val bandList = (0 until 4).map { bI =>
      s"((sig[${2 * bI + 1}] * 1000003 + sig[${2 * bI + 2}]) % 999999999999989) * 4 + $bI"
    }.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, list_distinct(sh) AS shd FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[])
       |        ELSE list_transform(generate_series(1, len(th) - 2),
       |               i -> ${docHashSql("th[i:i+2]")}) END AS sh
       |    FROM (SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents))
       |  WHERE len(sh) > 0),
       |sig AS (SELECT doc_id, shd, $sigList AS sig FROM t),
       |bands AS (SELECT doc_id, shd, unnest($bandList) AS bk FROM sig),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.shd AS sh_a, b.shd AS sh_b
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, ROUND(jac, 4) AS jac FROM (
       |  SELECT doc_a, doc_b,
       |    CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
       |      / (len(sh_a) + len(sh_b) - len(list_intersect(sh_a, sh_b))) AS jac
       |  FROM cand)
       |WHERE jac >= 0.8 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** SimHash near-dup dedup: 60-bit fingerprint (two seeded 30-bit
    * bit-majority views of the token hashes), 4-band pigeonhole blocking
    * (hamming <= 3 of 60 bits guarantees at least one of the 4 15-bit
    * bands is identical), hamming verification on the candidates. Like
    * q51 this is the sub-quadratic shape: 15-bit band keys spread the
    * corpus over 32k buckets per band, so the band-key equi-join scales
    * with true near-dups, never |corpus|². */
  def q61SimHash(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFns.{simHash, tokenHashes}
    val th = tokenHashes(col("text"))
    val t = Tables.documents(s, dir)
      .select(col("doc_id"),
        (simHash(th, 30) + simHash(th, 30, 387L, 15L) * (1L << 30)).as("sh"))
    // band b key = bits [15b, 15b+15) of the fingerprint, tagged with b
    val bks = array((0 until 4).map { b =>
      shiftright(col("sh"), 15 * b).bitwiseAND(lit(32767L)) * 4 + b
    }: _*)
    val bands = t.select(col("doc_id"), col("sh"), explode(bks).as("bk"))
    val cand = bands.select(col("doc_id").as("doc_a"), col("bk"),
        col("sh").as("sh_a"))
      .join(bands.select(col("doc_id").as("doc_b"), col("bk"),
        col("sh").as("sh_b")).hint("shuffle_hash"), "bk")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sh_a", "sh_b").distinct()
    cand.withColumn("ham", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("ham") <= 3)
      .select("doc_a", "doc_b", "ham")
      .orderBy("doc_a", "doc_b")
  }

  val q61SimHashSql: String = {
    def view(expr: String, shift: Int) = (0 until 30).map { i =>
      s"(CASE WHEN list_sum(list_transform(th, x -> 2*(($expr >> $i) & 1) - 1)) > 0 " +
        s"THEN CAST(${1L << (i + shift)} AS BIGINT) ELSE 0 END)"
    }.mkString(" + ")
    val bitTerms = view("x", 0) + " + " + view(s"((387*x + 15) % $P)", 30)
    val bandList = (0 until 4).map { b =>
      s"((sh >> ${15 * b}) & 32767) * 4 + $b"
    }.mkString("[", ", ", "]")
    s"""WITH t AS (
       |  SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh
       |  FROM (SELECT doc_id, ${tokenHashesSql("text")} AS th FROM documents)),
       |bands AS (SELECT doc_id, sh, unnest($bandList) AS bk FROM t),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    a.sh AS sh_a, b.sh AS sh_b
       |  FROM bands a JOIN bands b ON a.bk = b.bk AND a.doc_id < b.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sh_a, sh_b)) AS INTEGER) AS ham
       |FROM cand
       |WHERE bit_count(xor(sh_a, sh_b)) <= 3 ORDER BY doc_a, doc_b""".stripMargin
  }

  /** Cross-document duplicate-passage detection — the span-level
    * exact-substring dedup shape (Lee et al., ACL 2022, "Deduplicating
    * Training Data Makes Language Models Better"), here at word-5-gram
    * granularity: a gram occurring in ≥ 2 distinct documents marks every
    * one of its occurrences as a duplicated span position; emit per-doc
    * duplicated-span counts and the duplicated fraction. Complements the
    * doc-level families (q49–q51, q61): those decide KEEP/DROP per doc,
    * this localizes WHICH spans are boilerplate inside kept docs.
    *
    * Scale: explode → gram inverted index (hash-agg with map-side
    * combine) → equi-join back on gram — the q50 inverted-index shape,
    * never a pairwise product. Shuffle ∝ corpus gram count; the join
    * fan-out is one row per duplicated position, ∝ actual boilerplate.
    * dup_frac uses the q46 exact-integer half-up division so decimal
    * rounding can never split the engines. */
  def q100DupPassages(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val withWs = d.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
    val grams = transform(sequence(lit(1), size(col("ws")) - 4), i =>
      concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1),
        element_at(col("ws"), i + 2), element_at(col("ws"), i + 3),
        element_at(col("ws"), i + 4)))
    val g = withWs.select(col("doc_id"), explode(grams).as("gram"))
    // r19 (guide §2.4): the previous dupg-census + join-back form built
    // the string-alloc-heavy gram explode TWICE (census branch + probe
    // branch). One gram-keyed repartition instead: the (gram, doc_id)
    // agg and the per-gram doc-count window both reuse that single
    // exchange (hash(gram) clusters (gram, doc_id) too), so the explode
    // runs once and nothing joins back. Same n_dup by construction:
    // Σ instances per doc over grams appearing in ≥ 2 docs.
    val g2 = g.repartition(col("gram"))
      .groupBy("gram", "doc_id").agg(count(lit(1)).as("c"))
    val perDoc = g2
      .withColumn("nd", count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy("gram")))
      .filter(col("nd") >= 2)
      .groupBy("doc_id").agg(sum(col("c")).as("n_dup"))
    val tot = withWs.select(col("doc_id"),
      (size(col("ws")) - 4).cast("long").as("n_grams"))
    // exact integer half-up division (the q46 r4 form): both engines
    // round the same rational, never a double on a .xxxx5 boundary
    val h = col("n_dup") * 20000L + col("n_grams")
    val d2 = col("n_grams") * 2L
    tot.join(perDoc, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("dup_frac"))
      .orderBy("doc_id")
  }

  val q100DupPassagesSql: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |g AS (
      |  SELECT doc_id,
      |    ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] || ' ' || ws[pos+3] || ' ' || ws[pos+4] AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS pos
      |        FROM w WHERE len(ws) >= 5)),
      |dupg AS (
      |  SELECT gram FROM (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY gram)
      |  WHERE nd >= 2),
      |per_doc AS (
      |  SELECT doc_id, COUNT(*) AS n_dup FROM g JOIN dupg USING (gram) GROUP BY doc_id),
      |tot AS (SELECT doc_id, len(ws) - 4 AS n_grams FROM w WHERE len(ws) >= 5)
      |SELECT t.doc_id, t.n_grams, p.n_dup,
      |  ((p.n_dup * 20000 + t.n_grams) // (t.n_grams * 2)) / 10000.0 AS dup_frac
      |FROM tot t JOIN per_doc p USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  /** Sparse bag-of-words cosine similarity join — document pairs with
    * cosine ≥ 0.3 over word-bigram count vectors, computed entirely
    * through the inverted index: dot products materialize ONLY where
    * two documents share an indexed bigram (one posting-list equi-join
    * + hash agg), never by pairing dense vectors. This is the sparse
    * complement of L6/L7's dense-embedding cosine: the exact lexical
    * similarity join a curation pipeline runs where no embedding model
    * has been applied yet.
    *
    * The vocabulary keeps mid-frequency bigrams (2 ≤ df ≤ 50): df < 2
    * cannot contribute to any pair, and the df cap is the scale lever —
    * it bounds every posting list at 50 entries, so per-term pair
    * fan-out is ≤ C(50,2) regardless of corpus size and total candidate
    * volume grows with true co-occurrence, not |corpus|². (Dropping
    * near-ubiquitous terms is also what makes lexical cosine
    * discriminative — the standard stopword effect.)
    *
    * Parity: tc, df, dot and the squared norms are exact int64; cosine
    * is dot / (sqrt(n1)·sqrt(n2)) written with identical association in
    * both engines (IEEE division/multiplication deterministic, sqrt
    * correctly rounded), so the τ = 0.3 filter sees the same bits —
    * and the sf0.01 distribution keeps an empty ±0.02 guard band
    * around τ. Norms are over the same filtered vocabulary as the dot
    * (the vector space IS the indexed vocabulary).
    *
    * Scale: two map-side-combinable aggs build the index; the self-join
    * is hash-partitioned on the bigram; norms join back on doc_id.
    * No window, no cross product, no driver state. */
  def q135SparseCosine(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimFns
    // r19 note: a Respread.ifNarrow on this scan was tried and
    // reverted — measured slower (the tokenize stage was not the
    // bottleneck; the added text-payload shuffle was pure cost)
    val d = Tables.documents(s, dir)
    val tc = d.select(col("doc_id"),
        explode(SimFns.wordBigrams(col("text"))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tc"))
    val voc = tc.groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= 50)
      .select("g")
    val post = tc.join(voc, "g")
    val norm = post.groupBy("doc_id").agg(sum(col("tc") * col("tc")).as("n2"))
    val a = post.select(col("g"), col("doc_id").as("d1"), col("tc").as("tc1"))
    val b = post.select(col("g"), col("doc_id").as("d2"), col("tc").as("tc2"))
    val dot = a.join(b, "g").filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(sum(col("tc1") * col("tc2")).as("dot"))
    dot
      .join(norm.select(col("doc_id").as("d1"), col("n2").as("n21")), "d1")
      .join(norm.select(col("doc_id").as("d2"), col("n2").as("n22")), "d2")
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("n21").cast("double")) * sqrt(col("n22").cast("double"))))
      .filter(col("cos") >= 0.3)
      .select(col("d1"), col("d2"), col("dot"),
        round(col("cos"), 4).as("cos"))
      .orderBy("d1", "d2")
  }

  val q135SparseCosineSql: String =
    """WITH tc AS (
      |  SELECT doc_id, bigram AS g, COUNT(*) AS tc FROM (
      |    SELECT doc_id,
      |      unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |        ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END) AS bigram
      |    FROM documents)
      |  GROUP BY doc_id, g),
      |voc AS (
      |  SELECT g FROM (SELECT g, COUNT(*) AS df FROM tc GROUP BY g)
      |  WHERE df BETWEEN 2 AND 50),
      |post AS (SELECT tc.doc_id, tc.g, tc.tc FROM tc JOIN voc USING (g)),
      |norm AS (SELECT doc_id, SUM(tc * tc) AS n2 FROM post GROUP BY doc_id),
      |dot AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, SUM(a.tc * b.tc) AS dot
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT d1, d2, CAST(dot AS BIGINT) AS dot, ROUND(cos, 4) AS cos FROM (
      |  SELECT d1, d2, dot,
      |    CAST(dot AS DOUBLE) /
      |      (sqrt(CAST(n1.n2 AS DOUBLE)) * sqrt(CAST(n2.n2 AS DOUBLE))) AS cos
      |  FROM dot JOIN norm n1 ON dot.d1 = n1.doc_id
      |           JOIN norm n2 ON dot.d2 = n2.doc_id)
      |WHERE cos >= 0.3
      |ORDER BY d1, d2""".stripMargin

  /** Containment (asymmetric-Jaccard) near-superset detection — pairs
    * where ≥ half of document A's discriminative 5-grams also appear
    * in document B: |grams(A) ∩ grams(B)| / |grams(A)| ≥ 0.5. The
    * symmetric-Jaccard family (q49/q50/q51) misses exactly this case:
    * a short doc quoted or concatenated inside a long one scores low
    * Jaccard (the union is huge) but high containment — the
    * quote/aggregator-page duplicate class a curation pipeline must
    * catch separately.
    *
    * "Discriminative" = document frequency ≤ 20 (computed over
    * distinct (doc, gram) pairs). That is the SEMANTIC, not a lossy
    * shortcut, and the oracle states the same rule: boilerplate grams
    * shared by everything shouldn't witness containment — and the df
    * cap simultaneously bounds the inverted-index fan-out at
    * C(20,2) pairs per gram, so candidate volume is Σ_gram df² with
    * df ≤ 20, never |corpus|². Denominator |grams(A)| counts A's
    * kept grams (df 1 included — unique grams vote against
    * containment, as they must).
    *
    * Parity: exact integer counts end-to-end; the fraction is the
    * q100/q46 half-up integer division. Scale: gram-keyed window (df)
    * + bounded posting-list self-join + pair hash-agg + one doc-keyed
    * size join — the q135 sparse-join backbone with a df cap. */
  def q155Containment(s: SparkSession, dir: String): DataFrame = {
    val withWs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 5)
    val grams = transform(sequence(lit(1), size(col("ws")) - 4), i =>
      concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1),
        element_at(col("ws"), i + 2), element_at(col("ws"), i + 3),
        element_at(col("ws"), i + 4)))
    val g = withWs.select(col("doc_id"),
      explode(array_distinct(grams)).as("gram"))
    val keep = g
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("gram")))
      .filter(col("df") <= 20)
    val sizes = keep.groupBy("doc_id").agg(count(lit(1)).as("n_a"))
    val shared = keep.select(col("doc_id").as("doc_a"), col("gram"))
      .join(keep.select(col("doc_id").as("doc_b"), col("gram")), "gram")
      .filter(col("doc_a") =!= col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 3)
    val j = shared.join(sizes.withColumnRenamed("doc_id", "doc_a"), "doc_a")
    val h = col("shared") * 20000L + col("n_a")
    val d2 = col("n_a") * 2L
    j.select(col("doc_a"), col("doc_b"), col("n_a"), col("shared"),
        (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("containment"))
      .filter(col("containment") >= 0.5)
      .orderBy("doc_a", "doc_b")
  }

  val q155ContainmentSql: String =
    """WITH w AS (
      |  SELECT doc_id, ws FROM
      |    (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 5),
      |g0 AS (
      |  SELECT doc_id,
      |    ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] || ' ' ||
      |      ws[pos+3] || ' ' || ws[pos+4] AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 4)) AS pos
      |        FROM w)),
      |g AS (SELECT DISTINCT doc_id, gram FROM g0),
      |keep AS (
      |  SELECT doc_id, gram FROM
      |    (SELECT doc_id, gram, COUNT(*) OVER (PARTITION BY gram) AS df
      |     FROM g)
      |  WHERE df <= 20),
      |sizes AS (SELECT doc_id, COUNT(*) AS n_a FROM keep GROUP BY doc_id),
      |shared AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      |  FROM keep a JOIN keep b ON a.gram = b.gram AND a.doc_id <> b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |  HAVING COUNT(*) >= 3)
      |SELECT s.doc_a, s.doc_b, z.n_a, s.shared,
      |  ((s.shared * 20000 + z.n_a) // (z.n_a * 2)) / 10000.0 AS containment
      |FROM shared s JOIN sizes z ON s.doc_a = z.doc_id
      |WHERE ((s.shared * 20000 + z.n_a) // (z.n_a * 2)) / 10000.0 >= 0.5
      |ORDER BY s.doc_a, s.doc_b""".stripMargin

  /** Weighted Jaccard similarity join — Σ min(tf_A, tf_B) /
    * Σ max(tf_A, tf_B) over word term-frequency vectors: the
    * multiset-overlap semantic between L4's SET Jaccard (a word
    * repeated 40× counts once) and L61's cosine (repeats count
    * quadratically). This is the histogram-intersection similarity a
    * curation pipeline wants for template detection, where repeat
    * structure IS the signal but shouldn't be squared.
    *
    * Identity Σmax = |A| + |B| − Σmin turns the pair score into
    * shared-term work plus two per-doc totals — no union-side
    * materialization. Vocabulary = words with df ≤ 50 (the stated
    * semantic, q155's discipline: corpus-wide boilerplate words carry
    * no pair evidence AND would blow up posting lists); df-1 words
    * still count in the totals, voting against similarity.
    *
    * Parity: tf/min/totals are exact int64; the score is the q100
    * half-up integer division. Scale: posting-list equi-join with
    * ≤ C(50,2) fan-out per term + pair hash-agg + two broadcast-shape
    * size joins — the q135 backbone with LEAST instead of products. */
  def q158WeightedJaccard(s: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
    val kept = tf
      .withColumn("df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("w")))
      .filter(col("df") <= 50)
    val totals = kept.groupBy("doc_id").agg(sum("tf").as("tot"))
    val smin = kept.select(col("doc_id").as("d1"), col("w"), col("tf").as("tf1"))
      .join(kept.select(col("doc_id").as("d2"), col("w"), col("tf").as("tf2")), "w")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(sum(least(col("tf1"), col("tf2"))).as("smin"))
    val j = smin
      .join(totals.select(col("doc_id").as("d1"), col("tot").as("tot1")), "d1")
      .join(totals.select(col("doc_id").as("d2"), col("tot").as("tot2")), "d2")
      .withColumn("den", col("tot1") + col("tot2") - col("smin"))
    val h = col("smin") * 20000L + col("den")
    val d2x = col("den") * 2L
    j.select(col("d1"), col("d2"), col("smin"), col("den"),
        (((h - pmod(h, d2x)) / d2x).cast("long") / 10000.0).as("wjac"))
      .filter(col("wjac") >= 0.3)
      .orderBy("d1", "d2")
  }

  val q158WeightedJaccardSql: String =
    """WITH tf AS (
      |  SELECT doc_id, w, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY doc_id, w),
      |kept AS (
      |  SELECT doc_id, w, tf FROM
      |    (SELECT doc_id, w, tf, COUNT(*) OVER (PARTITION BY w) AS df
      |     FROM tf)
      |  WHERE df <= 50),
      |totals AS (
      |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS tot
      |  FROM kept GROUP BY doc_id),
      |smin AS (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2,
      |    CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS smin
      |  FROM kept a JOIN kept b ON a.w = b.w AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |j AS (
      |  SELECT s.d1, s.d2, s.smin,
      |    t1.tot + t2.tot - s.smin AS den
      |  FROM smin s
      |  JOIN totals t1 ON s.d1 = t1.doc_id
      |  JOIN totals t2 ON s.d2 = t2.doc_id)
      |SELECT d1, d2, smin, den,
      |  ((smin * 20000 + den) // (den * 2)) / 10000.0 AS wjac
      |FROM j
      |WHERE ((smin * 20000 + den) // (den * 2)) / 10000.0 >= 0.3
      |ORDER BY d1, d2""".stripMargin
  /** Jaro–Winkler fuzzy-name join — q48's blocked self-join with the
    * name-matching metric record linkage actually standardizes on:
    * prefix-boosted Jaro, which forgives transposed syllables and
    * rewards shared stems (part names differ mostly in one color
    * token, exactly JW's sweet spot). Runs the codegen'd
    * [[graft.functions.SimilarityKernels.jaroWinkler]] kernel; the
    * oracle is DuckDB's native `jaro_winkler_similarity` — the hash
    * gate therefore pins our kernel against an independent
    * implementation on 17k real pairs, not just the spec's probe
    * values (both sides: standard 0.7-boost-threshold Winkler,
    * half-transposition Jaro).
    *
    * Parity: jw is one double both engines derive from identical
    * integer (m, t, ℓ, lengths) tuples; ROUND(…, 4) and a 0.93
    * threshold sit far from any observed boundary.
    *
    * Scale: compound (noun, 8-char length band) block — the q48/q49
    * contract — plus an exact length-RATIO prefilter before the kernel:
    * jw ≥ 0.93 at max prefix boost ℓ=4 forces jaro ≥ (0.93−0.4)/0.6,
    * and jaro ≤ (2 + min/max)/3 (m ≤ min(|a|,|b|), transposition term
    * ≤ 1), so min·20 ≥ max·13 is a NECESSARY condition — integer
    * arithmetic, identical in both engines, zero false negatives for
    * the in-band pairs. */
  def q161JaroNames(s: SparkSession, dir: String): DataFrame = {
    namePairs(s, dir)
      .filter(least(length(col("name_a")), length(col("name_b"))) * 20 >=
        greatest(length(col("name_a")), length(col("name_b"))) * 13)
      .withColumn("jw", round(
        graft.functions.SimFns.jaroWinkler(col("name_a"), col("name_b")), 4))
      .filter(col("jw") >= 0.93)
      .select("name_a", "name_b", "jw")
      .orderBy("name_a", "name_b")
  }

  val q161JaroNamesSql: String =
    s"""SELECT name_a, name_b, jw FROM (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw
      |  $namePairsSql
      |   AND least(length(a.p_name), length(b.p_name)) * 20
      |       >= greatest(length(a.p_name), length(b.p_name)) * 13)
      |WHERE jw >= 0.93 ORDER BY name_a, name_b""".stripMargin

  /** Reranker training features for fuzzy-match candidates: every
    * similarity the record-linkage stack owns — edit distance,
    * Jaro–Winkler (fused codegen kernel), token-set jaccard (fused
    * kernel on distinct tokens), length delta — evaluated over the
    * q161 compound block in ONE pass. This is the "pair-feature join"
    * that turns a dedup candidate generator into supervised training
    * data for a learned matcher: candidates from cheap blocking,
    * features from the kernel library, labels from a threshold or
    * human review downstream.
    *
    * Scale: identical block shape to q48/q161 ((noun, 8-char length
    * band) equi-join); all four features are per-pair codegen maps, so
    * the cost profile is the candidate count, not the feature count.
    * Parity: lev is integer both sides; jw/tok_jac are ROUND(…,4)
    * doubles derived from identical integer tuples; len_delta cast to
    * int64 on both engines. */
  def q163PairFeatures(s: SparkSession, dir: String): DataFrame = {
    namePairs(s, dir)
      .withColumn("lev", levenshtein(col("name_a"), col("name_b")))
      .filter(col("lev") <= 6)
      .withColumn("jw", round(
        graft.functions.SimFns.jaroWinkler(col("name_a"), col("name_b")), 4))
      .withColumn("tok_jac", round(graft.functions.SimFns.jaccardSim(
        array_distinct(split(col("name_a"), " ")),
        array_distinct(split(col("name_b"), " "))), 4))
      .withColumn("len_delta",
        abs(length(col("name_a")) - length(col("name_b"))).cast("long"))
      .select("name_a", "name_b", "lev", "jw", "tok_jac", "len_delta")
      .orderBy("name_a", "name_b")
  }

  val q163PairFeaturesSql: String =
    s"""SELECT name_a, name_b, lev, jw, tok_jac, len_delta FROM (
      |  SELECT a.p_name AS name_a, b.p_name AS name_b,
      |    levenshtein(a.p_name, b.p_name) AS lev,
      |    ROUND(jaro_winkler_similarity(a.p_name, b.p_name), 4) AS jw,
      |    ROUND(CAST(len(list_intersect(list_distinct(string_split(a.p_name, ' ')),
      |                                  list_distinct(string_split(b.p_name, ' ')))) AS DOUBLE)
      |      / (len(list_distinct(string_split(a.p_name, ' ')))
      |         + len(list_distinct(string_split(b.p_name, ' ')))
      |         - len(list_intersect(list_distinct(string_split(a.p_name, ' ')),
      |                              list_distinct(string_split(b.p_name, ' '))))), 4) AS tok_jac,
      |    CAST(abs(length(a.p_name) - length(b.p_name)) AS BIGINT) AS len_delta
      |  $namePairsSql)
      |WHERE lev <= 6 ORDER BY name_a, name_b""".stripMargin

  /** L127 content-defined chunk dedup — Rabin-style CDC boundaries
    * ([[graft.functions.CdcChunks]], LBFS [PK]) make chunk identity
    * robust to edits: a prefix insertion shifts every fixed-stride
    * chunk (q102) but leaves content-defined boundaries after the edit
    * in place, so shared passages still collide on their chunk STRING.
    * Emits the most-duplicated substantial chunks with their document
    * reach — the passage-level dedup census q100 computes via shingle
    * grams, here via O(1)-state boundary detection (no k-gram blowup).
    *
    * Parity: the rolling-hash boundary rule is replicated in the
    * oracle as a direct 8-term weighted sum per position (same value
    * mod 1e9+7 — see CdcChunks header); chunks compare as raw strings,
    * never engine hashes. Ordering is (count desc, chunk) — total.
    *
    * Scale: the kernel is one codegen'd O(len) loop per document;
    * explode → chunk-keyed map-side-combinable count; the ≥2-occurrence
    * filter drops the unique-chunk long tail before the final top-k
    * (TakeOrdered, no global sort). */
  def q189CdcChunks(s: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.CdcChunks.cdcChunks(col("text"))).as("chunk"))
      .filter(length(col("chunk")) >= 16)
    chunks.groupBy("chunk")
      .agg(count(lit(1)).as("n_occur"),
        countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_occur") >= 2)
      .orderBy(col("n_occur").desc, col("chunk"))
      .limit(20)
  }

  val q189CdcChunksSql: String =
    """WITH pw AS (
      |  SELECT [CAST(1 AS BIGINT), 131, 17161, 2248091, 294499921,
      |          579489385, 913108910, 617266377] AS p),
      |ch AS (
      |  SELECT doc_id, text, length(text) AS n,
      |    [i FOR i IN range(8, length(text) + 1)
      |       IF i < length(text) AND
      |         (list_sum([CAST(unicode(substr(text, i - j, 1)) AS BIGINT) * p[j + 1]
      |                    FOR j IN range(0, 8)]) % 1000000007) % 64 = 0]
      |      AS bs
      |  FROM documents CROSS JOIN pw),
      |pieces AS (
      |  SELECT doc_id,
      |    [substr(text,
      |       list_prepend(1, list_transform(bs, b -> b + 1))[k],
      |       list_append(bs, n)[k]
      |         - list_prepend(1, list_transform(bs, b -> b + 1))[k] + 1)
      |     FOR k IN range(1, len(bs) + 2)] AS chunks
      |  FROM ch),
      |e AS (
      |  SELECT doc_id, unnest(chunks) AS chunk FROM pieces),
      |f AS (
      |  SELECT doc_id, chunk FROM e WHERE length(chunk) >= 16)
      |SELECT chunk, COUNT(*) AS n_occur, COUNT(DISTINCT doc_id) AS n_docs
      |FROM f GROUP BY chunk HAVING COUNT(*) >= 2
      |ORDER BY n_occur DESC, chunk LIMIT 20""".stripMargin

  /** L336 MinHash-estimate vs exact-Jaccard panel *(added r17; [PK]
    * Broder 1997)* — puts the L5 MinHash machinery's ESTIMATOR under
    * the oracle hash gate with the exact value beside it (the
    * estimator-honesty discipline the sketch family follows):
    * for every consecutive same-language document pair, 16
    * deterministic md5 min-hashes per side, the match-share estimate
    * Ĵ = |{i : mh_i(A) = mh_i(B)}|/16, the EXACT token-set Jaccard
    * from an intersection join, and the per-language census of mean
    * Ĵ, mean J, mean |Ĵ − J|, and the share of pairs within the
    * binomial 2σ band √(J(1−J)/16) + ½·(1/16) — the readout that
    * says whether 16 hashes suffice for this corpus's similarity
    * regime BEFORE an LSH run trusts them.
    *
    * Parity: min-hashes are exact integer folds (48-bit md5, the
    * q368 kernel) minimized per (doc, i); match counts, set sizes,
    * and intersections are exact int64; J and Ĵ are exact-integer
    * ratios micro-quantized per pair before the census sums
    * (seed-122 convention); band membership is an integer decision
    * on quantized values.
    *
    * Scale: pairs come from a doc_id+1 EQUI-join (no window, no
    * all-pairs); the 16× token explode is map-side; the exact-
    * intersection join is token-keyed within pairs. All shapes
    * survive 100 TB; the exact leg is the measuring stick (the q351
    * convention). */
  def q401MinhashPanel(s: SparkSession, dir: String): DataFrame = {
    def fold(i: Column, t: Column): Column =
      conv(substring(md5(concat(lit("mh"), i.cast("string"), lit(":"),
        t)), 1, 12), 16, 10).cast("long")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"),
        array_distinct(graft.functions.TextFns.tokens(col("text")))
          .as("ts"))
    val toks = d.select(col("doc_id"), explode(col("ts")).as("t"))
    val mh = toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(0), lit(15))).as("i"))
      .groupBy("doc_id", "i")
      .agg(min(fold(col("i"), col("t"))).as("mh"))
    val pairs = d.select(col("doc_id").as("a"), col("lang"),
        size(col("ts")).cast("long").as("na"))
      .join(d.select((col("doc_id") - 1L).as("a"),
        col("lang").as("lang_b"), col("doc_id").as("b"),
        size(col("ts")).cast("long").as("nb")), Seq("a"))
      .filter(col("lang") === col("lang_b"))
    val est = pairs
      .join(mh.select(col("doc_id").as("a"), col("i"),
        col("mh").as("ma")), Seq("a"))
      .join(mh.select(col("doc_id").as("b"), col("i"),
        col("mh").as("mb")), Seq("b", "i"))
      .groupBy("a", "b", "lang", "na", "nb")
      .agg(sum((col("ma") === col("mb")).cast("long")).as("match16"))
    val inter = pairs
      .join(toks.select(col("doc_id").as("a"), col("t")), Seq("a"))
      .join(toks.select(col("doc_id").as("b"), col("t")), Seq("b", "t"))
      .groupBy("a", "b").agg(count(lit(1)).as("ninter"))
    val per = est.join(inter, Seq("a", "b"), "left")
      .withColumn("ninter", coalesce(col("ninter"), lit(0L)))
      .withColumn("jq",
        Parity.quant(col("ninter").cast("double") / greatest(
          (col("na") + col("nb") - col("ninter")).cast("double"), lit(1.0)),
          1e6))
      .withColumn("eq", col("match16") * 62500L)
      // binomial 2σ band on a 16-hash estimate, half-grid slack
      .withColumn("band", floor(lit(2e6) *
        sqrt((col("jq").cast("double") / 1e6) *
          (lit(1.0) - col("jq").cast("double") / 1e6) / 16.0) +
        lit(31250.0) + 0.5).cast("long"))
      .withColumn("inband",
        (abs(col("eq") - col("jq")) <= col("band")).cast("long"))
    per.groupBy("lang")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("eq")).as("se"), sum(col("jq")).as("sj"),
        sum(abs(col("eq") - col("jq"))).as("sae"),
        sum(col("inband")).as("nin"))
      .select(col("lang"), col("n_pairs"),
        Parity.fix(col("se").cast("double") / 1e6 /
          col("n_pairs").cast("double"), 6).as("mean_est"),
        Parity.fix(col("sj").cast("double") / 1e6 /
          col("n_pairs").cast("double"), 6).as("mean_exact"),
        Parity.fix(col("sae").cast("double") / 1e6 /
          col("n_pairs").cast("double"), 6).as("mae"),
        Parity.fix(col("nin").cast("double") /
          col("n_pairs").cast("double"), 6).as("within_2sigma"))
      .orderBy("lang")
  }

  val q401MinhashPanelSql: String = {
    s"""WITH d AS (
      |  SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS ts
      |  FROM documents),
      |toks AS (
      |  SELECT doc_id, unnest(ts) AS t FROM d),
      |mh AS (
      |  SELECT doc_id, i,
      |    MIN(list_sum(list_transform(range(12), k ->
      |      (strpos('0123456789abcdef',
      |         substr(md5('mh' || CAST(i AS VARCHAR) || ':' || t),
      |           CAST(k + 1 AS INT), 1)) - 1)
      |      * (CAST(1 AS BIGINT) << CAST(4 * (11 - k) AS INT))))) AS mh
      |  FROM toks CROSS JOIN range(16) ti(i)
      |  GROUP BY doc_id, i),
      |pairs AS (
      |  SELECT da.doc_id AS a, db.doc_id AS b, da.lang,
      |    len(da.ts) AS na, len(db.ts) AS nb
      |  FROM d da JOIN d db ON db.doc_id = da.doc_id + 1
      |    AND da.lang = db.lang),
      |est AS (
      |  SELECT p.a, p.b, p.lang, p.na, p.nb,
      |    CAST(SUM(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS BIGINT)
      |      AS match16
      |  FROM pairs p
      |  JOIN mh x ON x.doc_id = p.a
      |  JOIN mh y ON y.doc_id = p.b AND y.i = x.i
      |  GROUP BY 1, 2, 3, 4, 5),
      |inter AS (
      |  SELECT p.a, p.b, COUNT(*) AS ninter
      |  FROM pairs p
      |  JOIN toks ta ON ta.doc_id = p.a
      |  JOIN toks tb ON tb.doc_id = p.b AND tb.t = ta.t
      |  GROUP BY 1, 2),
      |per AS (
      |  SELECT e.lang,
      |    ${Parity.quantSql("CAST(COALESCE(i.ninter, 0) AS DOUBLE)" +
                             " / GREATEST(e.na + e.nb - COALESCE(i.ninter, 0), 1)", 6)}
      |      AS jq,
      |    e.match16 * 62500 AS eq
      |  FROM est e LEFT JOIN inter i ON e.a = i.a AND e.b = i.b),
      |p2 AS (
      |  SELECT lang, jq, eq,
      |    CAST(FLOOR(2e6 * sqrt((CAST(jq AS DOUBLE) / 1e6)
      |      * (1.0 - CAST(jq AS DOUBLE) / 1e6) / 16.0) + 31250.0 + 0.5)
      |      AS BIGINT) AS band
      |  FROM per)
      |SELECT lang, COUNT(*) AS n_pairs,
      |  ${Parity.fixSql("CAST(SUM(eq) AS DOUBLE) / 1e6 / COUNT(*)", 6)} + 0 AS mean_est,
      |  ${Parity.fixSql("CAST(SUM(jq) AS DOUBLE) / 1e6 / COUNT(*)", 6)}
      |    + 0 AS mean_exact,
      |  ${Parity.fixSql("CAST(SUM(ABS(eq - jq)) AS DOUBLE) / 1e6 / COUNT(*)", 6)}
      |    + 0 AS mae,
      |  ${Parity.fixSql("CAST(SUM(CASE WHEN ABS(eq - jq) <= band THEN 1 ELSE 0 END)" +
                         " AS DOUBLE) / COUNT(*)", 6)}
      |    + 0 AS within_2sigma
      |FROM p2 GROUP BY lang ORDER BY lang""".stripMargin
  }
}
