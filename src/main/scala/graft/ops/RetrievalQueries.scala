package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval / scoring operators, split out of TextQueries in round 15
  * (the file was at 1,915 lines — the review-locality seam of the
  * SeriesStats and HypothesisTestQueries splits). Family: ranked
  * retrieval (TF-IDF, BM25), inverted-index postings, passage
  * chunking, LM perplexity scoring, rank fusion, and ranked-list
  * evaluation. The corpus-statistics members (vocabulary laws,
  * divergences, diversity, readability) stay in TextQueries.
  *
  * Scale notes unchanged from the parent file: every query is
  * explode -> hash-agg (map-side combinable); exchanged volume is
  * ~|vocab| x |groups|, independent of corpus size; no driver-side
  * collection anywhere.
  */
object RetrievalQueries {
  /** L12 tf-idf: top-3 terms per document by tf·ln(N/df), deterministic
    * tie-break on the term. N and df come from joins, not collect(). */
  def q43TfIdf(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = d.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), "word").crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 4))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select("doc_id", "rnk", "word", "tfidf")
      .orderBy("doc_id", "rnk")
  }

  val q43TfIdfSql: String =
    """WITH tf AS (
      |  SELECT doc_id, word, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS word FROM documents)
      |  GROUP BY doc_id, word),
      |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
      |n AS (SELECT COUNT(*) AS n_docs FROM documents)
      |SELECT doc_id, rnk, word, tfidf FROM (
      |  SELECT tf.doc_id, tf.word, ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) AS tfidf,
      |    ROW_NUMBER() OVER (PARTITION BY tf.doc_id
      |      ORDER BY ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 4) DESC, tf.word) AS rnk
      |  FROM tf JOIN df USING (word) CROSS JOIN n)
      |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin

  /** Okapi BM25 retrieval scoring (Robertson et al., TREC-3): rank the
    * corpus against a fixed query-term set with the k1=1.2, b=0.75
    * saturated, length-normalized tf and the +1-smoothed idf. Distinct
    * from q43's tf-idf: BM25 saturates term frequency and normalizes by
    * dl/avgdl, which is what retrieval-quality corpus filtering and
    * RAG-style example selection actually use.
    *
    * Cross-engine determinism: each term's contribution is scaled to an
    * integer micro-score with floor(x·10⁶ + 0.5) BEFORE the per-doc
    * sum, so aggregation is exact integer addition (order-independent —
    * a double sum could differ in the last ulp between engines); the
    * remaining double math is a single ln/mul/div chain with an
    * identical parse shape on both engines (IEEE-deterministic). The
    * final score is one exact-integer-to-double division.
    *
    * Scale: tf/df/avgdl are map-side-combinable aggregates; df (≤ query
    * vocabulary) and the one-row (n_docs, avgdl) stats are broadcast, so
    * scoring is linear in the corpus and the top-20 is
    * TakeOrderedAndProject — the rank window runs AFTER the limit, over
    * ≤ 20 rows, never over the corpus. */
  def q99Bm25(s: SparkSession, dir: String): DataFrame = {
    val queryTerms = Seq("hash", "join", "scan")
    val d = Tables.documents(s, dir)
    val tf = d.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("dl"),
        explode(tokens(col("text"))).as("word"))
      .filter(col("word").isin(queryTerms: _*))
      .groupBy("doc_id", "dl", "word").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val stats = d.agg(count(lit(1)).as("n_docs"),
      avg(size(tokens(col("text"))).cast("long")).as("avgdl"))
    val idf = log(lit(1.0) +
      ((col("n_docs") - col("df")).cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val tfn = (col("tf").cast("double") * 2.2) /
      (col("tf").cast("double") +
        lit(1.2) * (lit(0.25) + lit(0.75) * col("dl").cast("double") / col("avgdl")))
    val scored = tf.join(broadcast(df), "word")
      .crossJoin(broadcast(stats))
      .withColumn("c", Parity.quant(idf * tfn, 1e6))
      .groupBy("doc_id").agg(sum(col("c")).as("sc"))
    scored.orderBy(col("sc").desc, col("doc_id")).limit(20)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("sc").desc, col("doc_id"))))
      .select(col("doc_id"), col("rnk"),
        (col("sc").cast("double") / 1000000.0).as("score"))
      .orderBy("rnk")
  }

  val q99Bm25Sql: String =
    """WITH tf AS (
      |  SELECT doc_id, dl, word, COUNT(*) AS tf
      |  FROM (SELECT doc_id, len(string_split(text,' ')) AS dl,
      |               unnest(string_split(text,' ')) AS word FROM documents)
      |  WHERE word IN ('hash', 'join', 'scan')
      |  GROUP BY doc_id, dl, word),
      |df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
      |stats AS (SELECT COUNT(*) AS n_docs,
      |                 AVG(len(string_split(text,' '))) AS avgdl FROM documents),
      |contrib AS (
      |  SELECT tf.doc_id,
      |    CAST(floor(
      |      ln(1.0 + (CAST(stats.n_docs - df.df AS DOUBLE) + 0.5) / (CAST(df.df AS DOUBLE) + 0.5))
      |      * ((CAST(tf.tf AS DOUBLE) * 2.2) / (CAST(tf.tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(tf.dl AS DOUBLE) / stats.avgdl)))
      |      * 1000000.0 + 0.5) AS BIGINT) AS c
      |  FROM tf JOIN df USING (word) CROSS JOIN stats)
      |SELECT doc_id, rnk, score FROM (
      |  SELECT doc_id, CAST(SUM(c) AS DOUBLE) / 1000000.0 AS score,
      |    ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, doc_id) AS rnk
      |  FROM contrib GROUP BY doc_id)
      |WHERE rnk <= 20 ORDER BY rnk""".stripMargin

  /** Sliding-window chunking (window 20 tokens, stride 10) — the
    * standard retrieval/RAG corpus-prep op: overlapping fixed-budget
    * chunks with stable (doc_id, chunk_no) identity, runt chunks
    * (< 5 tokens, only possible for < 5-token docs) dropped.
    *
    * Chunk count = max(⌈(len−20)/10⌉, 0) + 1. The ceil-div operand can
    * go negative where the engines' integer division disagrees (Spark
    * `div` truncates, DuckDB `//` floors) — both are then ≤ 0 and the
    * greatest(…, 0) masks the difference, so parity holds for every
    * length; positives divide identically.
    *
    * Scale: pure per-row explode → slice — no join, no shuffle before
    * the final sort; output volume ∝ corpus tokens × (window/stride)
    * overlap factor (2× here). */
  def q102Chunks(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val nChunks = greatest(
      expr("(size(ws) - 20 + 10 - 1) div 10"), lit(0)) + 1
    val start = (col("chunk_no") - 1) * 10 + 1
    val len = least(lit(20), size(col("ws")) - start + 1)
    d.select(col("doc_id"), tokens(col("text")).as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(1), nChunks)).as("chunk_no"))
      .select(col("doc_id"), col("chunk_no"),
        slice(col("ws"), start, len).as("toks"))
      .filter(size(col("toks")) >= 5)
      .select(col("doc_id"), col("chunk_no"),
        size(col("toks")).as("n_tokens"),
        concat_ws(" ", col("toks")).as("chunk_text"))
      .orderBy("doc_id", "chunk_no")
  }

  val q102ChunksSql: String =
    """WITH w AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
      |c AS (
      |  SELECT doc_id, pos AS chunk_no,
      |    list_slice(ws, (pos - 1) * 10 + 1,
      |               least((pos - 1) * 10 + 20, len(ws))) AS toks
      |  FROM (SELECT doc_id, ws,
      |          unnest(generate_series(1,
      |            greatest((len(ws) - 20 + 10 - 1) // 10, 0) + 1)) AS pos
      |        FROM w))
      |SELECT doc_id, chunk_no, CAST(len(toks) AS INTEGER) AS n_tokens,
      |  array_to_string(toks, ' ') AS chunk_text
      |FROM c WHERE len(toks) >= 5
      |ORDER BY doc_id, chunk_no""".stripMargin

  /** Bigram language-model quality scoring — the CCNet-style corpus
    * filter (Wenzek et al., LREC 2020): train an add-one-smoothed
    * bigram LM on the corpus itself, then score every document by its
    * average token log-likelihood; low scores mark boilerplate/noise
    * for downstream filtering. P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V).
    *
    * Cross-engine determinism (the q99/q101 recipe): each distinct
    * bigram TYPE gets one integer micro-logprob,
    * ⌊ln((cb+1)/(cw+V))·10⁶+0.5⌋ — computed once per type from exact
    * integer counts via an identical IEEE parse shape on both engines —
    * and the per-document aggregate is then an exact BIGINT sum
    * (order-independent, unlike a double sum which can drift in the
    * last ulp under Spark's partial aggregation). The reported
    * avg_logprob is a single exact-integer-to-double division chain.
    *
    * Scale: token/bigram counting is explode → map-side-combinable
    * hash agg (shuffle ∝ vocab, not corpus — Heaps' law sublinear).
    * The model build joins bigram types to unigram counts on the
    * prefix word — vocab-sized equi-join both sides, left to AQE
    * (broadcast-able at fixture scale, shuffle-safe when a web-scale
    * vocab outgrows the threshold); only the one-row vocab size V is
    * force-broadcast. Scoring re-joins corpus bigrams to the model on
    * the bigram key — plain equi-join, linear in corpus tokens. */
  def q103LmScore(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bi = d.select(col("doc_id"),
      explode(graft.functions.SimFns.wordBigrams(col("text"))).as("bigram"))
    val cb = bi.groupBy("bigram").agg(count(lit(1)).as("cb"))
    val cw = d.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val v = cw.agg(count(lit(1)).as("v"))
    val model = cb
      .withColumn("w", split(col("bigram"), " ").getItem(0))
      .join(cw, "w")
      .crossJoin(broadcast(v))
      .withColumn("mlp",
        Parity.quant(log((col("cb").cast("double") + 1.0) /
          (col("cw") + col("v")).cast("double")), 1e6))
      .select("bigram", "mlp")
    bi.join(model, "bigram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("mlp").as("sum_mlp"))
      .withColumn("avg_logprob",
        round(col("sum_mlp").cast("double") / col("n_bigrams").cast("double")
          / 1000000.0, 4))
      .orderBy("doc_id")
  }

  val q103LmScoreSql: String =
    """WITH bi AS (
      |  SELECT doc_id, unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |    ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END) AS bigram
      |  FROM documents),
      |cb AS (SELECT bigram, COUNT(*) AS cb FROM bi GROUP BY bigram),
      |cw AS (SELECT w, COUNT(*) AS cw
      |       FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
      |       GROUP BY w),
      |v AS (SELECT COUNT(*) AS v FROM cw),
      |model AS (
      |  SELECT bigram,
      |    CAST(floor(ln((CAST(cb AS DOUBLE) + 1.0) / CAST(cw + v AS DOUBLE))
      |      * 1000000.0 + 0.5) AS BIGINT) AS mlp
      |  FROM cb JOIN cw ON string_split(cb.bigram, ' ')[1] = cw.w CROSS JOIN v)
      |SELECT doc_id, COUNT(*) AS n_bigrams, CAST(SUM(mlp) AS BIGINT) AS sum_mlp,
      |  ROUND(CAST(SUM(mlp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0, 4) AS avg_logprob
      |FROM bi JOIN model USING (bigram)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Materialized inverted index — the posting-list artifact a search
    * stack serves from (and the layout q99's BM25 scores against):
    * per term, document frequency, collection frequency, and the
    * doc-ordered posting list `doc:tf doc:tf …` (doc-ordered postings
    * are what intersection/merge iterators require). Serialized with
    * array_join per the driver hasher's no-array rule.
    *
    * Scale: two map-side-combinable hash aggs over the token stream —
    * (term, doc) counts then per-term assembly; one shuffle each, no
    * joins, no windows. The fixture vocabulary is dictionary-bounded
    * (every term materializes whole); at web scale the per-term reduce
    * state is capped by TIERING on df — head terms (df above a band)
    * go to impact-ordered / sharded posting formats instead of one
    * giant row — a `filter(col("df") <= band)` on this same plan.
    * DuckDB SUM widens to HUGEINT → CAST back to BIGINT (the q101
    * lesson). */
  def q116Postings(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val tf = d.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum("tf").as("cf"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("doc_id"), col("tf")))),
            x => concat(x.getField("doc_id"), lit(":"), x.getField("tf"))),
          " ").as("postings"))
      .orderBy("term")
  }

  val q116PostingsSql: String =
    """WITH tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY term, doc_id)
      |SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
      |  CAST(SUM(tf) AS BIGINT) AS cf,
      |  string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
      |             ' ' ORDER BY doc_id) AS postings
      |FROM tf
      |GROUP BY term
      |ORDER BY term""".stripMargin

  /** L109 reciprocal-rank fusion: merge two per-language document
    * rankings (by raw length, by distinct-word richness) into one list
    * via RRF score Σ 1/(60+rank) and keep the fused top-10 — the
    * standard way hybrid retrieval (BM25 ⊕ dense) combines rankers
    * without score calibration (Cormack et al., SIGIR 2009; k=60).
    *
    * Parity: ranks are integer row_numbers with doc_id tie-breaks;
    * 1/(60+r) is one IEEE division per ranker and their sum is
    * commutative-safe (two terms) — bit-identical on both engines, so
    * ordering by the UNROUNDED score is deterministic; output rounds
    * at 6dp.
    *
    * Scale: both rankings and the fusion ride lang-partitioned windows
    * over the document census (one shuffle on lang; same sort
    * machinery serves r1/r2). Real fleets fuse per query id — the
    * partition key becomes (query_id) with per-query candidate pools,
    * same plan shape. */
  /** L287 min–max CombSUM score fusion ([PK] Fox & Shaw 1994; Lee
    * 1997): fuse the q171 ranker pair by NORMALIZED SCORES instead of
    * ranks — per (lang, system) min–max to [0,1], then sum — the
    * calibrated-score counterpart to RRF (rank fusion discards score
    * GAPS; score fusion keeps them, at the price of the normalization
    * sensitivity this panel exposes: r1/r2 vs the q171 output is the
    * comparison). CombMNZ ≡ 2·CombSUM here (both systems score every
    * doc), noted rather than duplicated.
    *
    * Parity: both normalized scores are one IEEE division each from
    * exact ints ((s−min)/(max−min) — the min/max ride windows over
    * the census), so the fused sort key is bit-identical across
    * engines (the q171 unrounded-key precedent) with doc_id
    * tie-break; outputs 6dp.
    *
    * Scale: the q171 plan — lang-partitioned windows over the
    * document census, one shuffle on lang, top-10 filter. */
  def q353CombSumFusion(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val sig = d.select(col("doc_id"), col("lang"),
      col("n_chars").cast("long").as("s1"),
      size(array_distinct(tokens(col("text")))).cast("long").as("s2"))
    val wl = Window.partitionBy(col("lang"))
    def f(c: Column) = c.cast("double")
    def norm(c: Column): Column = {
      val mn = min(c).over(wl); val mx = max(c).over(wl)
      when(mx > mn, (f(c) - f(mn)) / (f(mx) - f(mn))).otherwise(lit(0.0))
    }
    val scored = sig
      .withColumn("ns1", norm(col("s1")))
      .withColumn("ns2", norm(col("s2")))
      .withColumn("fused", col("ns1") + col("ns2"))
    val wf = Window.partitionBy(col("lang"))
      .orderBy(col("fused").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("doc_id"),
        (round(col("ns1"), 6) + 0.0).as("norm_len"),
        (round(col("ns2"), 6) + 0.0).as("norm_uniq"),
        (round(col("fused"), 6) + 0.0).as("combsum"))
      .orderBy("lang", "rnk")
  }

  val q353CombSumFusionSql: String =
    """WITH sig AS (
      |  SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS s1,
      |    CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
      |      AS s2
      |  FROM documents),
      |w AS (
      |  SELECT *,
      |    CAST(MIN(s1) OVER (PARTITION BY lang) AS BIGINT) AS mn1,
      |    CAST(MAX(s1) OVER (PARTITION BY lang) AS BIGINT) AS mx1,
      |    CAST(MIN(s2) OVER (PARTITION BY lang) AS BIGINT) AS mn2,
      |    CAST(MAX(s2) OVER (PARTITION BY lang) AS BIGINT) AS mx2
      |  FROM sig),
      |sc AS (
      |  SELECT doc_id, lang,
      |    CASE WHEN mx1 > mn1 THEN (CAST(s1 AS DOUBLE) - mn1)
      |      / (CAST(mx1 AS DOUBLE) - mn1) ELSE 0.0 END AS ns1,
      |    CASE WHEN mx2 > mn2 THEN (CAST(s2 AS DOUBLE) - mn2)
      |      / (CAST(mx2 AS DOUBLE) - mn2) ELSE 0.0 END AS ns2
      |  FROM w),
      |t AS (
      |  SELECT *, ns1 + ns2 AS fused,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY ns1 + ns2 DESC, doc_id) AS rnk
      |  FROM sc)
      |SELECT lang, rnk, doc_id,
      |  ROUND(ns1, 6) + 0 AS norm_len, ROUND(ns2, 6) + 0 AS norm_uniq,
      |  ROUND(fused, 6) + 0 AS combsum
      |FROM t WHERE rnk <= 10
      |ORDER BY lang, rnk""".stripMargin

  def q171RrfFusion(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val sig = d.select(col("doc_id"), col("lang"), col("n_chars"),
      size(array_distinct(tokens(col("text")))).as("n_uniq"))
    val w1 = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars").desc, col("doc_id"))
    val w2 = Window.partitionBy(col("lang"))
      .orderBy(col("n_uniq").desc, col("doc_id"))
    val ranked = sig
      .withColumn("r1", row_number().over(w1))
      .withColumn("r2", row_number().over(w2))
      .withColumn("rrf",
        lit(1.0) / (lit(60.0) + col("r1")) + lit(1.0) / (lit(60.0) + col("r2")))
    val wf = Window.partitionBy(col("lang"))
      .orderBy(col("rrf").desc, col("doc_id"))
    ranked.withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= 10)
      .select(col("lang"), col("rnk"), col("doc_id"), col("r1"), col("r2"),
        round(col("rrf"), 6).as("rrf"))
      .orderBy("lang", "rnk")
  }

  val q171RrfFusionSql: String =
    """WITH sig AS (
      |  SELECT doc_id, lang, n_chars,
      |    len(list_distinct(string_split(text, ' '))) AS n_uniq
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id) AS r1,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_uniq DESC, doc_id) AS r2
      |  FROM sig),
      |f AS (
      |  SELECT lang, doc_id, r1, r2,
      |    CAST(1 AS DOUBLE)/(60 + r1) + CAST(1 AS DOUBLE)/(60 + r2) AS rrf
      |  FROM r),
      |t AS (
      |  SELECT lang, doc_id, r1, r2, rrf,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY rrf DESC, doc_id) AS rnk
      |  FROM f)
      |SELECT lang, rnk, doc_id, r1, r2, ROUND(rrf, 6) AS rrf
      |FROM t WHERE rnk <= 10 ORDER BY lang, rnk""".stripMargin

  /** L172 retrieval rank evaluation — nDCG\@10, MRR, MAP (Järvelin &
    * Kekäläinen 2002; classical IR [PK]): the metric side every
    * retrieval stack (BM25 q99, ANN q53/IVF/PQ, RRF q171) needs to be
    * judged by. Queries = the five languages; the system under test is
    * the deterministic length-biased ranker (n_chars desc, doc_id
    * asc); relevance = the doc's language matches the query. Binary
    * gains: DCG\@10 = Σ rel_k/log₂(k+1), IDCG from the ideal prefix,
    * AP = mean of precision\@k at relevant ranks, MRR = 1/first
    * relevant rank.
    *
    * Parity: ranks are integer decisions ((n_chars, doc_id) total
    * order); precision\@k and 1/log₂(k+1) terms are quantized to
    * nano-units BEFORE their integer sums (q185 discipline) — the
    * ideal prefix is the same quantized term summed k = 1..min(10,R)
    * via an aggregate HOF on both engines; final ratios round 6dp.
    *
    * Scale: queries × candidates ride a per-query window (partitioned
    * by query — at fleet scale candidate lists are top-k bounded by
    * the retriever, so the window input is per-query constant); metric
    * aggregation is map-side combinable. */
  def q238RankEval(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val langs = d.select(col("lang").as("ql")).distinct()
    val w = Window.partitionBy("ql")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = d.crossJoin(broadcast(langs))
      .withColumn("rk", row_number().over(w))
      .withColumn("rel", (col("lang") === col("ql")).cast("long"))
    val wc = Window.partitionBy("ql").orderBy("rk")
    val t = ranked.withColumn("cumrel", sum("rel").over(wc))
    val apTerm = when(col("rel") === 1L,
      Parity.quant(col("cumrel").cast("double") / col("rk"), 1e9)).otherwise(0L)
    val dcgTerm = when(col("rel") === 1L && col("rk") <= 10,
      Parity.quant(lit(0.6931471805599453) / log(col("rk") + 1.0),
        1e9)).otherwise(0L)
    val g = t.groupBy("ql").agg(
      count(lit(1)).as("n_docs"),
      sum("rel").as("n_rel"),
      min(when(col("rel") === 1L, col("rk"))).as("first_rel"),
      sum(apTerm).as("apq"),
      sum(dcgTerm).as("dcgq"))
    val idcgq = expr(
      """aggregate(sequence(1, cast(least(n_rel, 10L) as int)), 0L,
        |  (acc, k) -> acc + cast(floor(0.6931471805599453
        |    / ln(cast(k as double) + 1.0) * 1e9 + 0.5) as long))
        |""".stripMargin)
    g.select(col("ql").as("query_lang"), col("n_docs"), col("n_rel"),
        Parity.fix(lit(1.0) / col("first_rel"), 6).as("mrr"),
        Parity.fix(col("apq").cast("double") / 1e9 / col("n_rel"), 6)
          .as("map"),
        Parity.fix(col("dcgq").cast("double") / idcgq.cast("double"),
          6).as("ndcg10"))
      .orderBy("query_lang")
  }

  val q238RankEvalSql: String =
    """WITH langs AS (SELECT DISTINCT lang AS ql FROM documents),
      |ranked AS (
      |  SELECT ql, doc_id, lang, n_chars,
      |    ROW_NUMBER() OVER (PARTITION BY ql
      |      ORDER BY n_chars DESC, doc_id) AS rk,
      |    CASE WHEN lang = ql THEN 1 ELSE 0 END AS rel
      |  FROM documents CROSS JOIN langs),
      |t AS (
      |  SELECT *, SUM(rel) OVER (PARTITION BY ql ORDER BY rk
      |    ROWS UNBOUNDED PRECEDING) AS cumrel
      |  FROM ranked),
      |g AS (
      |  SELECT ql, COUNT(*) AS n_docs,
      |    CAST(SUM(rel) AS BIGINT) AS n_rel,
      |    MIN(CASE WHEN rel = 1 THEN rk END) AS first_rel,
      |    CAST(SUM(CASE WHEN rel = 1 THEN CAST(FLOOR(CAST(cumrel AS DOUBLE)
      |      / rk * 1e9 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS apq,
      |    CAST(SUM(CASE WHEN rel = 1 AND rk <= 10 THEN
      |      CAST(FLOOR(0.6931471805599453 / ln(CAST(rk AS DOUBLE) + 1.0)
      |        * 1e9 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS dcgq
      |  FROM t GROUP BY ql),
      |i AS (
      |  SELECT *, CAST(list_sum(list_transform(
      |      range(1, CAST(LEAST(n_rel, 10) AS BIGINT) + 1),
      |      k -> CAST(FLOOR(0.6931471805599453
      |        / ln(CAST(k AS DOUBLE) + 1.0) * 1e9 + 0.5) AS BIGINT)))
      |    AS BIGINT) AS idcgq
      |  FROM g)
      |SELECT ql AS query_lang, n_docs, n_rel,
      |  FLOOR(1.0 / first_rel * 1e6 + 0.5) / 1e6 AS mrr,
      |  FLOOR(CAST(apq AS DOUBLE) / 1e9 / n_rel * 1e6 + 0.5) / 1e6 AS map,
      |  FLOOR(CAST(dcgq AS DOUBLE) / CAST(idcgq AS DOUBLE) * 1e6 + 0.5)
      |    / 1e6 AS ndcg10
      |FROM i ORDER BY query_lang""".stripMargin

  /** L295 rank-biased precision @20 ([PK] Moffat & Zobel 2008): the
    * retrieval-eval metric with a USER MODEL — a reader inspects rank
    * r+1 with persistence p after rank r, so RBP = (1−p)·Σ p^(r−1)·rel_r,
    * and (the paper's point) it comes with a built-in RESIDUAL: the
    * unexamined tail can add at most p^d, published here beside the
    * base score so every value is an interval, not a point. p = 0.5 —
    * Moffat & Zobel's impatient-user setting — which makes every term
    * a DYADIC rational: rel·2^(20−r) summed as exact integer shifts
    * over 2^20, so the metric is EXACT cross-engine with no libm
    * anywhere (contrast q238's quantized ln-DCG terms). Ranking and
    * relevance reuse the q238 frame (per-language query fleet, length-
    * ranked corpus).
    *
    * Parity: integer shifts and sums end-to-end; the two output
    * divisions by 2²⁰ are exact binary scalings.
    *
    * Scale: the q238 shape — one ranked window per query language over
    * the corpus, rank filter ≤ 20 BEFORE any per-term work, ≤ 5-row
    * output. */
  def q360Rbp(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val langs = d.select(col("lang").as("ql")).distinct()
    val w = Window.partitionBy("ql")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = d.crossJoin(broadcast(langs))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .withColumn("rel", (col("lang") === col("ql")).cast("long"))
    ranked.groupBy(col("ql").as("query_lang"))
      .agg(sum(col("rel")).as("n_rel20"),
        sum(expr("rel * shiftleft(1L, cast(20 - rk as int))")).as("num"))
      .select(col("query_lang"), col("n_rel20"),
        (col("num").cast("double") / 1048576.0).as("rbp"),
        lit(1.0 / 1048576.0).as("residual"),
        ((col("num") + 1L).cast("double") / 1048576.0).as("rbp_max"))
      .orderBy("query_lang")
  }

  val q360RbpSql: String =
    """WITH langs AS (SELECT DISTINCT lang AS ql FROM documents),
      |ranked AS (
      |  SELECT ql, lang,
      |    ROW_NUMBER() OVER (PARTITION BY ql
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents CROSS JOIN langs
      |  QUALIFY rk <= 20)
      |SELECT ql AS query_lang,
      |  CAST(SUM(CASE WHEN lang = ql THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_rel20,
      |  CAST(SUM(CASE WHEN lang = ql
      |      THEN (CAST(1 AS BIGINT) << (20 - rk)) ELSE 0 END) AS DOUBLE)
      |    / 1048576.0 AS rbp,
      |  1.0 / 1048576.0 AS residual,
      |  CAST(SUM(CASE WHEN lang = ql
      |      THEN (CAST(1 AS BIGINT) << (20 - rk)) ELSE 0 END) + 1
      |    AS DOUBLE) / 1048576.0 AS rbp_max
      |FROM ranked GROUP BY ql
      |ORDER BY query_lang""".stripMargin

  /** L300 bpref — Buckley & Voorhees' judged-only binary-preference
    * retrieval metric ([PK] Buckley & Voorhees 2004): with R relevant
    * and N nonrelevant judged documents, bpref = (1/R)·Σ_{r rel}
    * (1 − min(nonrel_above_r, min(R,N))/min(R,N)) — unlike MAP/nDCG
    * (q238) it only counts JUDGED nonrelevant docs ranked above each
    * relevant one, making it robust to incomplete judgments (the
    * TREC pooling regime — exactly the situation of a sampled 100 TB
    * relevance audit). Runs on the q360 frame: per-language query
    * fleet, length-ranked top-20 as the judged pool, lang-match
    * relevance.
    *
    * Parity: ranks, the nonrel-above prefix counts, R, N, min(R,N),
    * and the scaled numerator Σ(mn − min(na, mn)) are ALL exact
    * integers; bpref is ONE IEEE division of exact ints (the q353
    * convention — bit-identical cross-engine, no quantization
    * needed).
    *
    * Scale: the q238/q360 shape — one ranked window per query
    * language, rank filter ≤ 20 before any per-term work, ≤ 5-row
    * output. */
  def q365Bpref(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val langs = d.select(col("lang").as("ql")).distinct()
    val w = Window.partitionBy("ql")
      .orderBy(col("n_chars").desc, col("doc_id"))
    val ranked = d.crossJoin(broadcast(langs))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 20)
      .withColumn("rel", (col("lang") === col("ql")).cast("long"))
    val wq = Window.partitionBy("ql")
    val wna = Window.partitionBy("ql").orderBy("rk")
      .rowsBetween(Window.unboundedPreceding, -1)
    // r17 (r16 advisor): the judged-pool size is the OBSERVED pool
    // (max rk per query), not the literal 20 — on a corpus with fewer
    // than 20 documents the Buckley–Voorhees N and min(R,N) must
    // shrink with it; identical to 20 whenever the corpus fills the
    // pool, so fixture results are unchanged
    val f = ranked
      .withColumn("na", coalesce(sum(lit(1L) - col("rel")).over(wna),
        lit(0L)))
      .withColumn("pool", max(col("rk")).over(wq).cast("long"))
      .withColumn("r_rel", sum(col("rel")).over(wq))
      .withColumn("mn", least(col("r_rel"), col("pool") - col("r_rel")))
    f.groupBy(col("ql").as("query_lang"))
      .agg(max(col("r_rel")).as("n_rel"),
        (max(col("pool")) - max(col("r_rel"))).as("n_nonrel"),
        sum(col("rel") * (col("mn") - least(col("na"), col("mn"))))
          .as("num"))
      .select(col("query_lang"), col("n_rel"), col("n_nonrel"),
        when(col("n_rel") === 0L || col("n_nonrel") === 0L,
          lit(null).cast("double"))
          .otherwise(col("num").cast("double") /
            (col("n_rel") * least(col("n_rel"), col("n_nonrel")))
              .cast("double")).as("bpref"))
      .orderBy("query_lang")
  }

  val q365BprefSql: String =
    """WITH langs AS (SELECT DISTINCT lang AS ql FROM documents),
      |ranked AS (
      |  SELECT ql, lang,
      |    ROW_NUMBER() OVER (PARTITION BY ql
      |      ORDER BY n_chars DESC, doc_id) AS rk
      |  FROM documents CROSS JOIN langs
      |  QUALIFY rk <= 20),
      |f AS (
      |  SELECT ql, rk,
      |    CASE WHEN lang = ql THEN 1 ELSE 0 END AS rel,
      |    COALESCE(SUM(CASE WHEN lang = ql THEN 0 ELSE 1 END)
      |      OVER (PARTITION BY ql ORDER BY rk
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      AS na,
      |    CAST(MAX(rk) OVER (PARTITION BY ql) AS BIGINT) AS pool,
      |    SUM(CASE WHEN lang = ql THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY ql) AS r_rel
      |  FROM ranked),
      |g AS (
      |  SELECT ql, rel, na, r_rel, pool,
      |    LEAST(r_rel, pool - r_rel) AS mn
      |  FROM f)
      |SELECT ql AS query_lang,
      |  CAST(MAX(r_rel) AS BIGINT) AS n_rel,
      |  CAST(MAX(pool) - MAX(r_rel) AS BIGINT) AS n_nonrel,
      |  CASE WHEN MAX(r_rel) = 0 OR MAX(r_rel) = MAX(pool) THEN NULL
      |    ELSE CAST(SUM(rel * (mn - LEAST(na, mn))) AS DOUBLE)
      |      / CAST(MAX(r_rel) * LEAST(MAX(r_rel), MAX(pool) - MAX(r_rel))
      |          AS DOUBLE) END AS bpref
      |FROM g GROUP BY ql
      |ORDER BY query_lang""".stripMargin

  /** L313 AP rank correlation τ_AP ([PK] Yilmaz, Aslam & Robertson
    * 2008) — the TOP-WEIGHTED Kendall: where τ counts every
    * discordant pair equally, τ_AP = (2/(N−1))·Σ_{i≥2} C(i)/(i−1) − 1
    * averages per-rank precision-style concordance, so a swap at the
    * head costs far more than one at the tail — the right correlation
    * for comparing RANKERS (it matches how AP-based evaluation
    * perceives them). Computed between the length ranking (truth) and
    * the token-count ranking (system) over the top-50 truth items,
    * published BESIDE plain Kendall τ on the same pairs — the
    * top-weighting gap (τ 0.57 vs τ_AP 0.45 at sf0.001) is the
    * readout.
    *
    * Parity: both rankings are tie-free row_numbers over exact
    * (int64, doc_id) orders; pair concordance counts are exact ints;
    * τ is one exact-integer ratio; each τ_AP term C(i)/(i−1) is one
    * IEEE division nano-quantized BEFORE the sum (seed-122
    * convention), then one final chain, 6dp.
    *
    * Scale: the truth top-50 is a TakeOrdered; the pair frame is the
    * bounded 50×50 self-join of a broadcast census (the q211 pair
    * discipline); 1-row output. */
  def q378TauAp(s: SparkSession, dir: String): DataFrame = {
    val top = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("ntok"))
      .orderBy(col("n_chars").desc, col("doc_id")).limit(50)
    val ranked = top
      .withColumn("rt", row_number().over(
        Window.orderBy(col("n_chars").desc, col("doc_id"))).cast("long"))
      .withColumn("rs", row_number().over(
        Window.orderBy(col("ntok").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rt", "rs")
    val pairs = ranked.as("a")
      .join(broadcast(ranked.as("b")), col("a.rs") < col("b.rs"))
      .select(col("a.rt").as("rta"), col("b.rt").as("rtb"),
        col("b.rs").as("rsb"))
    val perI = pairs.groupBy("rsb")
      .agg(sum(when(col("rta") < col("rtb"), 1L).otherwise(0L))
        .as("conc"))
      .select(col("rsb"),
        Parity.quant(col("conc").cast("double") /
          (col("rsb") - 1L).cast("double"), 1e9)
          .as("p9"))
    val tot = pairs.agg(
      count(lit(1)).as("npairs"),
      sum(when(col("rta") < col("rtb"), 1L).otherwise(0L)).as("nc"))
    val apSum = perI.agg(sum(col("p9")).as("s9"),
      (max(col("rsb"))).as("nmax"))
    tot.crossJoin(broadcast(apSum))
      .select(col("nmax").as("n_items"),
        Parity.fix((lit(2.0) *
          (col("nc") * 2L - col("npairs")).cast("double")) /
          (col("nmax") * (col("nmax") - 1L)).cast("double"), 6)
          .as("kendall_tau"),
        Parity.fix(lit(2.0) / (col("nmax") - 1L).cast("double") *
          (col("s9").cast("double") / 1e9) - 1.0, 6).as("tau_ap"))
  }

  val q378TauApSql: String =
    """WITH top AS (
      |  SELECT doc_id, n_chars, len(string_split(text, ' ')) AS ntok
      |  FROM documents ORDER BY n_chars DESC, doc_id LIMIT 50),
      |ranked AS (
      |  SELECT doc_id,
      |    CAST(ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id)
      |      AS BIGINT) AS rt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY ntok DESC, doc_id)
      |      AS BIGINT) AS rs
      |  FROM top),
      |pairs AS (
      |  SELECT a.rt AS rta, b.rt AS rtb, b.rs AS rsb
      |  FROM ranked a JOIN ranked b ON a.rs < b.rs),
      |peri AS (
      |  SELECT rsb,
      |    CAST(FLOOR(CAST(SUM(CASE WHEN rta < rtb THEN 1 ELSE 0 END)
      |        AS DOUBLE) / CAST(rsb - 1 AS DOUBLE) * 1e9 + 0.5)
      |      AS BIGINT) AS p9
      |  FROM pairs GROUP BY rsb),
      |tot AS (
      |  SELECT COUNT(*) AS npairs,
      |    CAST(SUM(CASE WHEN rta < rtb THEN 1 ELSE 0 END) AS BIGINT)
      |      AS nc
      |  FROM pairs),
      |ap AS (
      |  SELECT CAST(SUM(p9) AS BIGINT) AS s9,
      |    CAST(MAX(rsb) AS BIGINT) AS nmax
      |  FROM peri)
      |SELECT nmax AS n_items,
      |  FLOOR((2.0 * CAST(nc * 2 - npairs AS DOUBLE))
      |    / CAST(nmax * (nmax - 1) AS DOUBLE) * 1e6 + 0.5) / 1e6 + 0
      |    AS kendall_tau,
      |  FLOOR((2.0 / CAST(nmax - 1 AS DOUBLE)
      |    * (CAST(s9 AS DOUBLE) / 1e9) - 1.0) * 1e6 + 0.5) / 1e6 + 0
      |    AS tau_ap
      |FROM tot CROSS JOIN ap""".stripMargin
}
