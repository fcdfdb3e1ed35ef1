package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators L9–L13 plus the LLM-pipeline text ops
  * (language-ID, quality scoring, token counting, fingerprinting) —
  * SURVEY.md §2.8. Since round 15 the ranked-retrieval members
  * (TF-IDF, BM25, postings, chunking, LM scoring, rank fusion, ranked
  * evaluation) live in [[RetrievalQueries]]; this file keeps the
  * corpus-statistics family (vocabulary laws, divergences, diversity,
  * readability, agreement).
  *
  * Scale notes: every query here is explode → hash-agg — the classic
  * map-side-combinable shape. Token/bigram explosion multiplies rows by
  * ~60× but partial aggregation collapses them before the shuffle, so the
  * exchanged volume is ~|vocab| × |groups|, independent of corpus size.
  * No driver-side collection anywhere.
  */
object TextQueries {
  private val stopwords = Seq("the", "a", "of", "and", "to", "in", "is", "on")

  private val stopSql = stopwords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** L9 tokenization + word count: term frequencies per language. */
  def q40WordCount(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("lang"), explode(tokens(col("text"))).as("word"))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("lang", "word")
  }

  val q40WordCountSql: String =
    """SELECT lang, word, COUNT(*) AS cnt
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
      |GROUP BY lang, word ORDER BY lang, word""".stripMargin

  /** L10 stopword filter + top-5 non-stop terms per language
    * (deterministic tie-break on the word itself). */
  def q41TopTerms(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val counts = d
      .select(col("lang"), explode(tokens(col("text"))).as("word"))
      .filter(!col("word").isin(stopwords: _*))
      .groupBy("lang", "word")
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("cnt").desc, col("word"))
    counts.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("lang", "rnk")
  }

  val q41TopTermsSql: String =
    s"""SELECT lang, word, cnt, rnk FROM (
       |  SELECT lang, word, cnt,
       |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS rnk
       |  FROM (SELECT lang, word, COUNT(*) AS cnt
       |        FROM (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents)
       |        WHERE word NOT IN $stopSql
       |        GROUP BY lang, word))
       |WHERE rnk <= 5 ORDER BY lang, rnk""".stripMargin

  /** L11 n-grams: corpus-wide bigram counts (guarded for 1-token docs;
    * Spark `sequence` would count DOWN on start>stop — SURVEY.md §2.7). */
  def q42Bigrams(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bigrams = graft.functions.SimFns.wordBigrams(col("text"))
    d.select(explode(bigrams).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("bigram")
  }

  val q42BigramsSql: String =
    """SELECT bigram, COUNT(*) AS cnt FROM (
      |  SELECT unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |    ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END) AS bigram
      |  FROM documents)
      |GROUP BY bigram ORDER BY bigram""".stripMargin

  /** L13 text stats: per-language corpus profile. */
  def q44TextStats(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(size(tokens(col("text")))), 4).as("avg_words"),
        max(col("n_chars")).as("max_chars"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("lang")
  }

  val q44TextStatsSql: String =
    """SELECT lang, COUNT(*) AS n_docs,
      |  ROUND(AVG(n_chars), 4) AS avg_chars,
      |  ROUND(AVG(len(string_split(text,' '))), 4) AS avg_words,
      |  MAX(n_chars) AS max_chars,
      |  COUNT(DISTINCT source) AS n_sources
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Language-ID by character-bigram profile: build a top-20 bigram
    * profile per labelled language from the corpus, then classify each
    * doc by profile overlap (argmax, tie-break lang asc). Emits the
    * confusion matrix. Entirely relational — the "model" is a 100-row
    * broadcast table, so classification scales linearly with the corpus. */
  def q45LangId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bg = d.select(col("doc_id"), col("lang"),
      explode(graft.functions.SimFns.charBigrams(col("text"))).as("b"))
    val prof = bg.groupBy("lang", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("b"))))
      .filter(col("rn") <= 20)
      .select(col("lang").as("cand_lang"), col("b"))
    // per-doc distinct bigrams never need a shuffle: dedupe inside the
    // array before exploding instead of a global distinct()
    val docBg = d.select(col("doc_id"),
      explode(array_distinct(graft.functions.SimFns.charBigrams(col("text"))))
        .as("b"))
    val score = docBg.join(broadcast(prof), "b")
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("ov"))
    val pred = score.withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("ov").desc, col("cand_lang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("cand_lang").as("pred_lang"))
    d.join(pred, "doc_id")
      .groupBy(col("lang").as("actual_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy("actual_lang", "pred_lang")
  }

  val q45LangIdSql: String =
    """WITH bg AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, length(text) - 1),
      |      i -> substr(text, i, 2))) AS b
      |  FROM documents),
      |prof AS (
      |  SELECT lang AS cand_lang, b FROM (
      |    SELECT lang, b, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY COUNT(*) DESC, b) AS rn
      |    FROM bg GROUP BY lang, b)
      |  WHERE rn <= 20),
      |docbg AS (SELECT DISTINCT doc_id, b FROM bg),
      |score AS (
      |  SELECT d.doc_id, p.cand_lang, COUNT(*) AS ov
      |  FROM docbg d JOIN prof p USING (b) GROUP BY 1, 2),
      |pred AS (
      |  SELECT doc_id, cand_lang AS pred_lang FROM (
      |    SELECT doc_id, cand_lang,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY ov DESC, cand_lang) AS rn
      |    FROM score)
      |  WHERE rn = 1)
      |SELECT d.lang AS actual_lang, p.pred_lang, COUNT(*) AS n
      |FROM documents d JOIN pred p USING (doc_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Quality scoring + token counting per document: whitespace tokens, a
    * BPE-ish regex token count, stopword ratio, distinct ratio, and a
    * composite quality score — all codegen'd builtins, no UDF. */
  def q46Quality(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val w = tokens(col("text"))
    // All rounded ratios are computed with integer half-up division —
    // floor((2*a*10^4 + b) / (2*b)) — so both engines round the same
    // rational, never a float on a .xxxx5 ulp boundary (the q46 lesson:
    // Spark round() is decimal HALF_UP, DuckDB's is not).
    def r4(num: Column, den: Column): Column = {
      // floor((2a+b)/(2b)) via subtract-remainder: h - h%d is exactly
      // divisible, operands < 2^53, so the double division is exact.
      val h = num * 20000L + den
      val d2 = den * 2L
      (((h - pmod(h, d2)) / d2).cast("long") / 10000.0)
    }
    val nTok = size(w).cast("long")
    val nStop = size(filter(w, t => t.isin(stopwords: _*))).cast("long")
    val nDistinct = size(array_distinct(w)).cast("long")
    // quality = 0.4*min(nc,500)/500 + 0.3*(t-s)/t + 0.3*d/t, as one
    // exact rational num/den with den = 5000*t.
    val m = least(col("n_chars"), lit(500L)).cast("long")
    val qNum = m * 4L * nTok + (nTok - nStop) * 1500L + nDistinct * 1500L
    val qDen = nTok * 5000L
    d.select(
        col("doc_id"),
        nTok.as("n_ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[^a-z ]', 0)"))
          .cast("long").as("n_bpe_tokens"),
        r4(nStop, nTok).as("stop_ratio"),
        r4(nDistinct, nTok).as("distinct_ratio"),
        r4(qNum, qDen).as("quality"))
      .orderBy("doc_id")
  }

  val q46QualitySql: String = {
    def r4(num: String, den: String): String =
      s"(($num * 20000 + $den) // (($den) * 2)) / 10000.0"
    val t = "len(string_split(text,' '))"
    val st = s"len(list_filter(string_split(text,' '), x -> x IN $stopSql))"
    val d = "len(list_distinct(string_split(text,' ')))"
    val qNum = s"(least(n_chars, 500) * 4 * $t + ($t - $st) * 1500 + $d * 1500)"
    val qDen = s"($t * 5000)"
    s"""SELECT doc_id,
       |  $t AS n_ws_tokens,
       |  len(regexp_extract_all(lower(text), '[a-z]+|[^a-z ]')) AS n_bpe_tokens,
       |  ${r4(st, t)} AS stop_ratio,
       |  ${r4(d, t)} AS distinct_ratio,
       |  ${r4(qNum, qDen)} AS quality
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Document fingerprinting: order-sensitive whole-doc polynomial hash
    * plus a winnowing-style min-3-token-shingle fingerprint (the rolling
    * hash). Portable int64 math — see TextFns. */
  def q47Fingerprint(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val th = tokenHashes(col("text"))
    val sh = shingleHashes(th, 3)
    d.select(
        col("doc_id"),
        docHash(th).as("doc_hash"),
        array_min(sh).as("min_shingle"),
        size(array_distinct(sh)).as("n_shingles"))
      .orderBy("doc_id")
  }

  val q47FingerprintSql: String = {
    val th = tokenHashesSql("text")
    s"""SELECT doc_id,
       |  ${docHashSql("th")} AS doc_hash,
       |  list_min(sh) AS min_shingle,
       |  CAST(len(list_distinct(sh)) AS INTEGER) AS n_shingles
       |FROM (
       |  SELECT doc_id, th,
       |    CASE WHEN len(th) < 3 THEN CAST([] AS BIGINT[])
       |      ELSE list_transform(generate_series(1, len(th) - 2),
       |             i -> ${docHashSql("th[i:i+2]")}) END AS sh
       |  FROM (SELECT doc_id, $th AS th FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic train/val/test split — the dataset-assembly op every
    * training pipeline needs. Assignment is a pure function of the id
    * (multiplicative hash mod 100), so it is reproducible, join-free,
    * and stable under reruns and repartitioning; emits per-(lang, split)
    * counts. */
  def q71SplitAssign(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bucket = pmod(col("doc_id") * 2654435761L, lit(100L))
    val split = when(bucket < 80, "train")
      .when(bucket < 90, "val").otherwise("test")
    d.withColumn("split", split)
      .groupBy("lang", "split").agg(count(lit(1)).as("n"))
      .orderBy("lang", "split")
  }

  val q71SplitAssignSql: String =
    """SELECT lang, split, COUNT(*) AS n FROM (
      |  SELECT lang, CASE
      |    WHEN ((doc_id * 2654435761) % 100 + 100) % 100 < 80 THEN 'train'
      |    WHEN ((doc_id * 2654435761) % 100 + 100) % 100 < 90 THEN 'val'
      |    ELSE 'test' END AS split
      |  FROM documents)
      |GROUP BY lang, split ORDER BY lang, split""".stripMargin

  /** Stratified deterministic sample: 5 documents per language, chosen
    * by ranking a per-row hash inside each stratum — the reproducible,
    * shuffle-once alternative to rand()-based sampling. */
  def q72StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val h = pmod(col("doc_id") * 1103515245L + 12345L, lit(1000000007L))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
    d.withColumn("h", h)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select("lang", "rn", "doc_id", "source")
      .orderBy("lang", "rn")
  }

  val q72StratifiedSampleSql: String =
    """SELECT lang, rn, doc_id, source FROM (
      |  SELECT lang, doc_id, source,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY ((doc_id * 1103515245 + 12345) % 1000000007 + 1000000007) % 1000000007, doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin

  /** Feature-hash ("hashing trick", Weinberger et al., ICML 2009)
    * document embeddings — the model-free way to get a fixed-width
    * vector per document for clustering / similarity when no learned
    * encoder is in the pipeline: each token's hash picks one of 16
    * signed buckets. Bucket counts are INTEGERS, so the cross-engine
    * hash is exact; l2-normalizing to floats (what AnnIvf consumes) is
    * an engine-local step deliberately outside the oracle.
    *
    * Scale: one codegen'd kernel pass per row, O(tokens + dim) — no
    * explode, no shuffle before the output sort. The HOF/DuckDB
    * mirrors are O(dim·tokens); bit-equality with the kernel is
    * pinned in HashKernelSpec (the q47/q51 discipline). */
  def q108HashEmbed(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    d.select(col("doc_id"),
        featureHashEmbed(tokenHashes(col("text")), 16).as("emb"))
      .select(col("doc_id"),
        // the driver's hasher rejects raw list columns — serialize
        array_join(col("emb"), ",").as("emb_csv"),
        size(filter(col("emb"), x => x =!= 0L)).as("nnz"),
        aggregate(col("emb"), lit(0L), (a, x) => a + abs(x)).as("l1"))
      .orderBy("doc_id")
  }

  val q108HashEmbedSql: String = {
    val th = tokenHashesSql("text")
    val emb = featureHashEmbedSql("th", 16)
    s"""SELECT doc_id, array_to_string(emb, ',') AS emb_csv,
       |  CAST(len(list_filter(emb, x -> x != 0)) AS INTEGER) AS nnz,
       |  CAST(list_sum(list_transform(emb, x -> abs(x))) AS BIGINT) AS l1
       |FROM (SELECT doc_id, $emb AS emb
       |      FROM (SELECT doc_id, $th AS th FROM documents))
       |ORDER BY doc_id""".stripMargin
  }

  /** PMI collocation mining — the classic statistical measure for
    * "these two words form a unit" (Church & Hanks, CL 1990): for
    * bigram (x, y), PMI = ln( p(x,y) / (p(x)·p(y)) ) with p(x,y) over
    * the bigram-instance total and p(x) over the unigram total. High
    * PMI + a minimum-count floor (here n_xy ≥ 5, the standard guard
    * against one-off pairs) surfaces multiword expressions for
    * tokenizer/vocab construction.
    *
    * Parity: all counts are exact integers; the totals are computed
    * once (one scan-level agg riding an in-plan 1-row broadcast onto
    * the filtered bigram table, q242 form since r13), so both
    * engines evaluate ln on the identically-associated double
    * expression; ln's cross-libm divergence is ≤ ulps, eight orders
    * below the round(4) grid except at measure-zero boundaries. The
    * final order sorts the ROUNDED pmi (then bigram), so ordering and
    * values are forced together.
    *
    * Scale: bigram and unigram counting are explode → map-side-combined
    * hash aggs; the two unigram joins carry NO broadcast hint — a
    * unigram vocab is small for one corpus and huge for the web, the
    * q123/KCore size-flip AQE's runtime selection owns (a forced hint
    * would OOM on a billion-type vocab); top-25 via
    * TakeOrderedAndProject. Totals need one extra pass over doc
    * lengths, not over the pair space. */
  def q121Pmi(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimFns
    val d = Tables.documents(s, dir)
    // corpus totals in-plan (r13, closing the .head() sweep): a 1-row
    // broadcast onto the filtered bigram table (q242 form) — the ln
    // argument keeps the identical association, nb/nu now read from
    // columns instead of interpolated literals
    val tot = d.select(size(tokens(col("text"))).as("nw"))
      .agg(sum(greatest(col("nw") - 1, lit(0))).as("nb"),
        sum(col("nw")).as("nu"))
    val bi = d.select(explode(SimFns.wordBigrams(col("text"))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_xy"))
      .filter(col("n_xy") >= 5)
    val uni = d.select(explode(tokens(col("text"))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("n_w"))
    val w1 = uni.select(col("w").as("w1"), col("n_w").as("n_w1"))
    val w2 = uni.select(col("w").as("w2"), col("n_w").as("n_w2"))
    bi.withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(w1, "w1")
      .join(w2, "w2")
      .crossJoin(broadcast(tot))
      .withColumn("pmi", expr(
        "round(ln((cast(n_xy as double) * nu * nu) / " +
          "(cast(nb as double) * n_w1 * n_w2)), 4)"))
      .select("bigram", "n_xy", "pmi")
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(25)
  }

  val q121PmiSql: String =
    """WITH tot AS (
      |  SELECT CAST(SUM(GREATEST(len(string_split(text,' ')) - 1, 0)) AS BIGINT) AS nb,
      |         CAST(SUM(len(string_split(text,' '))) AS BIGINT) AS nu
      |  FROM documents),
      |bi AS (
      |  SELECT bigram, COUNT(*) AS n_xy FROM (
      |    SELECT unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |      ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |             i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END) AS bigram
      |    FROM documents)
      |  GROUP BY bigram HAVING COUNT(*) >= 5),
      |uni AS (
      |  SELECT w, COUNT(*) AS n_w FROM (
      |    SELECT unnest(string_split(text,' ')) AS w FROM documents)
      |  GROUP BY w)
      |SELECT b.bigram, b.n_xy,
      |  ROUND(LN((CAST(b.n_xy AS DOUBLE) * t.nu * t.nu) /
      |           (CAST(t.nb AS DOUBLE) * u1.n_w * u2.n_w)), 4) AS pmi
      |FROM bi b
      |CROSS JOIN tot t
      |JOIN uni u1 ON string_split(b.bigram, ' ')[1] = u1.w
      |JOIN uni u2 ON string_split(b.bigram, ' ')[len(string_split(b.bigram, ' '))] = u2.w
      |ORDER BY pmi DESC, bigram LIMIT 25""".stripMargin

  /** Distinct-n lexical diversity per source — distinct-1 (unique
    * words / word occurrences) and distinct-2 (unique bigrams / bigram
    * occurrences), the standard repetitiveness screen for generated or
    * boilerplate-heavy corpora (Li et al., NAACL 2016): a source whose
    * distinct-2 collapses is template spam even when its vocabulary
    * looks healthy. Complements q91 (within-doc repetition) with the
    * across-source view.
    *
    * Parity: four exact integer counts per source; two divisions at
    * output. Scale: two explode → map-side-combinable distinct/count
    * aggs per source — no joins, no windows. */
  def q144Diversity(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.SimFns
    val d = Tables.documents(s, dir)
    val uni = d.select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("w")).as("n_distinct_1"))
    val bi = d.select(col("source"),
        explode(SimFns.wordBigrams(col("text"))).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        countDistinct(col("g")).as("n_distinct_2"))
    uni.join(bi, "source")
      .select(col("source"), col("n_tokens"), col("n_distinct_1"),
        col("n_bigrams"), col("n_distinct_2"),
        round(col("n_distinct_1").cast("double") / col("n_tokens"), 4)
          .as("distinct_1"),
        round(col("n_distinct_2").cast("double") / col("n_bigrams"), 4)
          .as("distinct_2"))
      .orderBy("source")
  }

  val q144DiversitySql: String =
    """WITH u AS (
      |  SELECT source, COUNT(*) AS n_tokens,
      |    COUNT(DISTINCT w) AS n_distinct_1
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY source),
      |b AS (
      |  SELECT source, COUNT(*) AS n_bigrams,
      |    COUNT(DISTINCT g) AS n_distinct_2
      |  FROM (
      |    SELECT source,
      |      unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |        ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |               i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END) AS g
      |    FROM documents)
      |  GROUP BY source)
      |SELECT u.source, n_tokens, n_distinct_1, n_bigrams, n_distinct_2,
      |  ROUND(CAST(n_distinct_1 AS DOUBLE) / n_tokens, 4) AS distinct_1,
      |  ROUND(CAST(n_distinct_2 AS DOUBLE) / n_bigrams, 4) AS distinct_2
      |FROM u JOIN b ON u.source = b.source
      |ORDER BY u.source""".stripMargin

  /** Frequency-truncated vocabulary coverage per language — what share
    * of token OCCURRENCES a top-k corpus vocabulary covers (k = 100,
    * 1000): the vocab-size/OOV-rate trade-off curve a tokenizer design
    * starts from (the L45 BPE training step chooses its merge budget
    * against exactly this curve), and the per-language split exposes
    * which languages a shared vocabulary under-serves.
    *
    * Parity: vocabulary rank is a total (count desc, word) order;
    * coverage sums are exact integers; two divisions at output.
    *
    * Scale: corpus-wide word counts collapse in one map-side hash agg
    * (vocabulary-sized output); the rank window runs over the
    * VOCABULARY, not the corpus; the per-language coverage join is
    * vocabulary-keyed. Nothing touches fact-scale rows twice. */
  def q145VocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val occ = d.select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("n"))
    val vocab = occ.groupBy("w").agg(sum("n").as("tot"))
    val ranked = vocab.withColumn("rnk",
      row_number().over(Window.orderBy(col("tot").desc, col("w"))))
    occ.join(ranked.select("w", "rnk"), "w")
      .groupBy("lang")
      .agg(sum("n").as("n_tokens"),
        sum(when(col("rnk") <= 100, col("n")).otherwise(0L)).as("cov100"),
        sum(when(col("rnk") <= 1000, col("n")).otherwise(0L)).as("cov1000"))
      .select(col("lang"), col("n_tokens"),
        round(col("cov100").cast("double") / col("n_tokens"), 4)
          .as("coverage_top100"),
        round(col("cov1000").cast("double") / col("n_tokens"), 4)
          .as("coverage_top1000"))
      .orderBy("lang")
  }

  val q145VocabCoverageSql: String =
    """WITH occ AS (
      |  SELECT lang, w, COUNT(*) AS n
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY lang, w),
      |ranked AS (
      |  SELECT w, ROW_NUMBER() OVER (ORDER BY SUM(n) DESC, w) AS rnk
      |  FROM occ GROUP BY w)
      |SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
      |  ROUND(CAST(SUM(CASE WHEN rnk <= 100 THEN n ELSE 0 END) AS DOUBLE)
      |    / SUM(n), 4) AS coverage_top100,
      |  ROUND(CAST(SUM(CASE WHEN rnk <= 1000 THEN n ELSE 0 END) AS DOUBLE)
      |    / SUM(n), 4) AS coverage_top1000
      |FROM occ JOIN ranked USING (w)
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** First-occurrence n-gram novelty — for each document, the fraction
    * of its distinct word 3-grams never seen in any EARLIER document
    * (by doc_id, the corpus's ingest order). This is the running-
    * novelty signal a curation pipeline uses to spot boilerplate waves
    * (novelty collapses when a template floods the crawl) and to
    * prioritize genuinely-new text in data mixing; the complement of
    * q87's contamination (which screens against a fixed held-out set,
    * not the corpus's own past).
    *
    * Parity: "novel" = this doc IS the minimum doc_id holding the
    * gram — an exact integer min, no timestamps; the fraction uses the
    * exact half-up integer division from q100/q46 so no double ever
    * hits a rounding boundary. Per-doc grams are deduped inside the
    * array (array_distinct before explode — no extra shuffle).
    *
    * Scale: one gram-keyed window (min over the partition) + one
    * doc-keyed agg — two shuffles of the distinct (doc, gram) pairs;
    * no joins, no pairwise anything. The gram shuffle is the inverted
    * index's natural build, identical to q100/q116's backbone. */
  def q154NgramNovelty(s: SparkSession, dir: String): DataFrame = {
    val withWs = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
    val grams = transform(sequence(lit(1), size(col("ws")) - 2), i =>
      concat_ws(" ", element_at(col("ws"), i), element_at(col("ws"), i + 1),
        element_at(col("ws"), i + 2)))
    val g = withWs.select(col("doc_id"),
      explode(array_distinct(grams)).as("gram"))
    val per = g
      .withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy("gram")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    val h = col("n_novel") * 20000L + col("n_grams")
    val d2 = col("n_grams") * 2L
    per.select(col("doc_id"), col("n_grams"), col("n_novel"),
      (((h - pmod(h, d2)) / d2).cast("long") / 10000.0).as("novelty"))
      .orderBy("doc_id")
  }

  /** Vocabulary drift as an EXACT total-variation distance — the
    * corpus-shift monitor for text: TV(P, Q) = ½·Σ_w |p_w − q_w|
    * between the word distributions of two corpus slices (here the
    * even/odd doc_id halves per language — the SPLIT-HALF form, which
    * measures the sampling-noise floor that any real temporal/source
    * drift must exceed to mean anything; q146's PSI is the numeric-
    * feature counterpart).
    *
    * The parity trick is the whole point: a naive Σ of double
    * |c1/n1 − c2/n2| terms is an ORDER-DEPENDENT float sum (FIXTURES
    * hazard 2 — Spark partial aggregation vs DuckDB's sequential fold
    * disagree in the last bits). Rewriting each term over the common
    * denominator, |p − q| = |c1·n2 − c2·n1| / (n1·n2), makes the
    * numerator an exact int64 the engines sum identically in any
    * order; ONE half-up integer division at the end produces the
    * 4-decimal TV. Bounds: Σ|c1·n2 − c2·n1| ≤ 2·n1·n2 (~2×10⁹ at
    * sf0.1) and the half-up form multiplies by 2×10⁴ — comfortably
    * int64 through ~SF100, DECIMAL(38,0) is the documented swap above.
    *
    * Scale: explode → (lang, word) map-side-combinable count (the
    * §2.8 backbone); per-language totals come from a ≤|langs|-row
    * `groupBy` aggregate BROADCAST-joined back (the q146/q93 pattern)
    * — not a lang-partition window, which would shuffle the whole
    * vocabulary onto |langs| reducers; then one ≤|langs|-group agg. */
  def q160VocabDrift(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("lang"), (pmod(col("doc_id"), lit(2)) === 0).as("h1"),
        explode(split(col("text"), " ")).as("w"))
    val wc = tok.groupBy("lang", "w").agg(
      sum(when(col("h1"), 1L).otherwise(0L)).as("c1"),
      sum(when(!col("h1"), 1L).otherwise(0L)).as("c2"))
    val totals = wc.groupBy("lang")
      .agg(sum("c1").as("n1"), sum("c2").as("n2"))
    val wt = wc.join(broadcast(totals), "lang")
      .withColumn("num", abs(col("c1") * col("n2") - col("c2") * col("n1")))
    val agg = wt.groupBy("lang").agg(
      max("n1").as("n1"), max("n2").as("n2"),
      count(lit(1)).as("n_vocab"), sum("num").as("s"))
    val den = col("n1") * col("n2") * 2L
    val h = col("s") * 20000L + den
    agg.select(col("lang"), col("n1"), col("n2"), col("n_vocab"),
        (((h - pmod(h, den * 2L)) / (den * 2L)).cast("long") / 10000.0)
          .as("tv_dist"))
      .orderBy("lang")
  }

  val q160VocabDriftSql: String =
    """WITH tok AS (
      |  SELECT lang, (doc_id % 2 = 0) AS h1,
      |    unnest(string_split(text, ' ')) AS w
      |  FROM documents),
      |wc AS (
      |  SELECT lang, w,
      |    CAST(SUM(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
      |    CAST(SUM(CASE WHEN NOT h1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      |  FROM tok GROUP BY lang, w),
      |wt AS (
      |  SELECT lang, c1, c2,
      |    CAST(SUM(c1) OVER (PARTITION BY lang) AS BIGINT) AS n1,
      |    CAST(SUM(c2) OVER (PARTITION BY lang) AS BIGINT) AS n2
      |  FROM wc),
      |agg AS (
      |  SELECT lang, MAX(n1) AS n1, MAX(n2) AS n2,
      |    COUNT(*) AS n_vocab,
      |    CAST(SUM(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS s
      |  FROM wt GROUP BY lang)
      |SELECT lang, n1, n2, n_vocab,
      |  ((s * 20000 + n1 * n2 * 2) // (n1 * n2 * 4)) / 10000.0 AS tv_dist
      |FROM agg ORDER BY lang""".stripMargin

  val q154NgramNoveltySql: String =
    """WITH w AS (
      |  SELECT doc_id, ws FROM
      |    (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
      |  WHERE len(ws) >= 3),
      |g0 AS (
      |  SELECT doc_id,
      |    ws[pos] || ' ' || ws[pos+1] || ' ' || ws[pos+2] AS gram
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS pos
      |        FROM w)),
      |g AS (SELECT DISTINCT doc_id, gram FROM g0),
      |t AS (
      |  SELECT doc_id, gram,
      |    MIN(doc_id) OVER (PARTITION BY gram) AS first_doc
      |  FROM g),
      |per AS (
      |  SELECT doc_id, COUNT(*) AS n_grams,
      |    CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_novel
      |  FROM t GROUP BY doc_id)
      |SELECT doc_id, n_grams, n_novel,
      |  ((n_novel * 20000 + n_grams) // (n_grams * 2)) / 10000.0 AS novelty
      |FROM per ORDER BY doc_id""".stripMargin

  /** L108 Zipf rank–frequency fit per language: ln(count) regressed on
    * ln(rank) over the top-500 head — slope ≈ −1 is Zipf's law; the
    * deviation is a corpus-health signal (too flat = shuffled/duplicated
    * boilerplate, too steep = tiny effective vocabulary). Rank ties
    * break on the word itself (deterministic on both engines).
    *
    * Scale: the rank window partitions by language over the |vocab|-sized
    * census (corpus-sublinear — the q41 justification); the regression
    * itself runs on ≤500 rows per language via the builtin codegen
    * regr_* aggregates. */
  def q170Zipf(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val wc = d.select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("w"))
    wc.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 500)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_ranks"),
        round(regr_slope(log(col("cnt")), log(col("rnk"))), 4).as("zipf_slope"),
        round(regr_intercept(log(col("cnt")), log(col("rnk"))), 4).as("zipf_intercept"),
        round(regr_r2(log(col("cnt")), log(col("rnk"))), 4).as("r2"))
      .orderBy("lang")
  }

  val q170ZipfSql: String =
    """WITH wc AS (
      |  SELECT lang, w, COUNT(*) AS cnt
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      |  GROUP BY lang, w),
      |r AS (
      |  SELECT lang, cnt,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, w) AS rnk
      |  FROM wc)
      |SELECT lang, COUNT(*) AS n_ranks,
      |  ROUND(regr_slope(LN(cnt), LN(rnk)), 4) AS zipf_slope,
      |  ROUND(regr_intercept(LN(cnt), LN(rnk)), 4) AS zipf_intercept,
      |  ROUND(regr_r2(LN(cnt), LN(rnk)), 4) AS r2
      |FROM r WHERE rnk <= 500 GROUP BY lang ORDER BY lang""".stripMargin

  /** L123 Jensen–Shannon divergence between source unigram
    * distributions (Lin 1991 [PK]) — the bounded, symmetric "how
    * different are these two corpora?" statistic that completes the
    * drift family: PSI (q146) needs binning choices, TV (q160) ignores
    * magnitude structure, G² (q179) ranks individual terms; JS is the
    * single-number pairwise distance the mixture-weighting literature
    * actually reports (and √JS is a metric).
    *
    * Identity that keeps it one equi-join: with f(x) = −x·ln x and
    * Σp = Σq = 1,  JS(p,q) = ln 2 + Σ_{w ∈ supp(p)∩supp(q)}
    * [f((p+q)/2) − f(p/2) − f(q/2)] — the disjoint-support mass
    * contributes exactly ln 2 · (its probability), which telescopes
    * into the constant. So ONLY the vocabulary intersection is ever
    * joined; words private to either source never produce a row.
    *
    * Parity (q179 recipe): probabilities are divisions of exact int64
    * counts; each word's term is quantized once to nano-units
    * floor(term·1e9 + 0.5) so the cross-pair SUM is an exact integer in
    * both engines (partition-order independent), and the output is the
    * same int-over-1e9 division plus the ln 2 literal — identical bits.
    *
    * Scale: one vocab-sized map-side-combinable count, a vocab-keyed
    * self-equi-join whose fan-out is bounded by |sources|² per word,
    * and a ≤C(|sources|,2)-group agg. Nothing grows with corpus size
    * past the vocabulary (Heaps-sublinear). */
  def q185JsDivergence(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val wc = d.select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val tot = d.groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("tot"))
    val p = wc.join(broadcast(tot), "source")
      .select(col("source"), col("w"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p"))
    def f(x: Column): Column = -x * log(x)
    val a = p.select(col("source").as("src_a"), col("w"), col("p").as("pa"))
    val b = p.select(col("source").as("src_b"), col("w"), col("p").as("pb"))
    val two = lit(2.0)
    val term = f((col("pa") + col("pb")) / two) -
      f(col("pa") / two) - f(col("pb") / two)
    a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        Parity.quant(term, 1e9).as("tq"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"), sum("tq").as("sq"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        (col("sq").cast("double") / lit(1.0e9) +
          lit(0.6931471805599453)).as("js"))
      .orderBy("src_a", "src_b")
  }

  val q185JsDivergenceSql: String =
    s"""WITH wc AS (
      |  SELECT source, w, COUNT(*) AS cnt
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY source, w),
      |tot AS (
      |  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tot
      |  FROM documents GROUP BY source),
      |p AS (
      |  SELECT wc.source, w, CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) AS p
      |  FROM wc JOIN tot ON wc.source = tot.source),
      |t AS (
      |  SELECT a.source AS src_a, b.source AS src_b,
      |    ${Parity.quantSql("(" +
                             " -((a.p + b.p) / 2.0) * ln((a.p + b.p) / 2.0)" +
                             " - (-(a.p / 2.0) * ln(a.p / 2.0))" +
                             " - (-(b.p / 2.0) * ln(b.p / 2.0))" +
                             " )", 9)}
      |    AS tq
      |  FROM p a JOIN p b ON a.w = b.w AND a.source < b.source)
      |SELECT src_a, src_b, COUNT(*) AS n_shared,
      |  CAST(SUM(tq) AS DOUBLE) / 1e9 + 0.6931471805599453 AS js
      |FROM t GROUP BY src_a, src_b ORDER BY src_a, src_b""".stripMargin

  /** L125 per-document token entropy — the unigram Shannon entropy
    * quality signal (low entropy ⇔ repetitive/templated text; the
    * Gopher rules in q162 screen symptoms like repeated lines, this
    * scores the underlying distribution directly). Emits raw entropy
    * and the [0,1] normalized form H / ln(n_unique) used for
    * length-independent thresholding.
    *
    * Parity: per-(doc, word) terms quantized to nano-units before the
    * per-doc integer SUM (partition-order independent, the q185
    * discipline); normalization divides that exact integer's /1e9
    * double by ln of an exact int64 — one deterministic IEEE chain.
    *
    * Scale: explode → (doc, word) count → per-doc agg, all map-side
    * combinable; state per doc is its distinct-token count, never the
    * corpus vocabulary. */
  def q187TokenEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val wc = d.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("cnt"))
    val nt = wc.groupBy("doc_id").agg(sum("cnt").as("n_tokens"),
      count(lit(1)).as("n_unique"))
    val term = -(col("cnt").cast("double") / col("n_tokens").cast("double")) *
      log(col("cnt").cast("double") / col("n_tokens").cast("double"))
    wc.join(nt, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_unique"),
        Parity.quant(term, 1e9).as("tq"))
      .groupBy("doc_id", "n_tokens", "n_unique")
      .agg(sum("tq").as("sq"))
      .select(col("doc_id"), col("n_tokens"), col("n_unique"),
        (col("sq").cast("double") / lit(1.0e9)).as("entropy"),
        when(col("n_unique") > 1L,
          // nano-quantize: the ln(n_unique) division is the one
          // cross-libm double in the chain (r12 fuzz find: a 300-token
          // adversarial doc diverged in the 16th digit)
          Parity.fix((col("sq").cast("double") / lit(1.0e9)) /
            log(col("n_unique").cast("double")), 9))
          .otherwise(lit(0.0)).as("norm_entropy"))
      .orderBy("doc_id")
  }

  val q187TokenEntropySql: String =
    s"""WITH wc AS (
      |  SELECT doc_id, w, COUNT(*) AS cnt
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY doc_id, w),
      |nt AS (
      |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_unique
      |  FROM wc GROUP BY doc_id),
      |q AS (
      |  SELECT wc.doc_id, n_tokens, n_unique,
      |    ${Parity.quantSql("-(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))" +
                             " * ln(CAST(cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE))", 9)}
      |      AS tq
      |  FROM wc JOIN nt ON wc.doc_id = nt.doc_id)
      |SELECT doc_id, n_tokens, n_unique,
      |  CAST(SUM(tq) AS DOUBLE) / 1e9 AS entropy,
      |  CASE WHEN n_unique > 1
      |    THEN ${Parity.fixSql("(CAST(SUM(tq) AS DOUBLE) / 1e9)" +
                                " / ln(CAST(n_unique AS DOUBLE))", 9)}
      |    ELSE 0.0 END AS norm_entropy
      |FROM q GROUP BY doc_id, n_tokens, n_unique ORDER BY doc_id""".stripMargin

  /** L130 bigram conditional entropy per language — H(w₂|w₁) =
    * −Σ p(w₁w₂)·ln(p(w₁w₂)/p(w₁·)), the corpus PREDICTABILITY
    * statistic: how much does knowing the previous word tell you about
    * the next? Complements q187 (per-doc unigram entropy — no sequence
    * structure) and q121 PMI (per-pair association, not a corpus
    * total); low H(w₂|w₁) relative to unigram entropy flags templated /
    * boilerplate corpora before they flood a training mix.
    *
    * Parity: all counts exact int64 (bigram census; the w₁ marginal is
    * the SUM of bigram counts, no second tokenize pass); per-bigram
    * terms nano-quantized before the per-lang integer SUM.
    *
    * Scale: explode → bigram-keyed map-side-combinable count; marginal
    * join is bigram-table × (lang, w₁) equi-join (vocab-keyed); the
    * ≤|langs|-row totals broadcast. Nothing exceeds the bigram-type
    * table, which Heaps-caps well below the corpus. */
  def q192CondEntropy(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val c12 = d.select(col("lang"),
        explode(graft.functions.SimFns.wordBigrams(col("text"))).as("bg"))
      .groupBy("lang", "bg").agg(count(lit(1)).as("c12"))
      .withColumn("w1", split(col("bg"), " ").getItem(0))
    val c1 = c12.groupBy("lang", "w1").agg(sum("c12").as("c1"))
    val nb = c12.groupBy("lang").agg(sum("c12").as("nb"))
    val term = -(col("c12").cast("double") / col("nb").cast("double")) *
      log(col("c12").cast("double") / col("c1").cast("double"))
    c12.join(c1, Seq("lang", "w1")).join(broadcast(nb), "lang")
      .select(col("lang"), col("nb"),
        Parity.quant(term, 1e9).as("tq"))
      .groupBy("lang")
      .agg(max(col("nb")).as("n_bigrams"),
        count(lit(1)).as("n_bigram_types"),
        (sum("tq").cast("double") / lit(1.0e9)).as("h_cond"))
      .orderBy("lang")
  }

  val q192CondEntropySql: String =
    s"""WITH bg AS (
      |  SELECT lang, unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |    ELSE list_transform(generate_series(1, len(string_split(text,' ')) - 1),
      |           i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1]) END)
      |    AS bg
      |  FROM documents),
      |c12 AS (
      |  SELECT lang, bg, COUNT(*) AS c12, string_split(bg, ' ')[1] AS w1
      |  FROM bg GROUP BY lang, bg),
      |c1 AS (
      |  SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1
      |  FROM c12 GROUP BY lang, w1),
      |nb AS (
      |  SELECT lang, CAST(SUM(c12) AS BIGINT) AS nb FROM c12 GROUP BY lang),
      |q AS (
      |  SELECT c12.lang, nb,
      |    ${Parity.quantSql("-(CAST(c12 AS DOUBLE) / CAST(nb AS DOUBLE))" +
                             " * ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE))", 9)}
      |      AS tq
      |  FROM c12
      |  JOIN c1 ON c12.lang = c1.lang AND c12.w1 = c1.w1
      |  JOIN nb ON c12.lang = nb.lang)
      |SELECT lang, MAX(nb) AS n_bigrams, COUNT(*) AS n_bigram_types,
      |  CAST(SUM(tq) AS DOUBLE) / 1e9 AS h_cond
      |FROM q GROUP BY lang ORDER BY lang""".stripMargin

  /** L333 language-ID confidence-margin census *(added r17)* — the
    * CURATION readout q45's classifier lacks: a language router that
    * reports only its top-1 label hides how close the call was, and
    * at 100 TB the low-margin documents are exactly the ones worth
    * routing to a better (costlier) classifier. Per predicted
    * language: document count, mean top1−top2 overlap margin, the
    * low-confidence share (margin ≤ 1 profile bigram — including
    * exact ties broken alphabetically), and the accuracy among
    * CONFIDENT calls beside overall accuracy — the abstention curve's
    * two endpoints ([PK] standard selective-classification readout,
    * e.g. Geifman & El-Yaniv 2017).
    *
    * Parity: the q45 frame verbatim (top-20 bigram profiles, distinct
    * doc-bigram overlap counts); margins are exact integer
    * differences (a doc matching ONE candidate language has margin =
    * its full overlap, pinned); all shares are 6dp output divisions
    * of exact counts.
    *
    * Scale: the q45 shape — profile broadcast, per-doc keyed windows
    * (doc_id cardinality), one ≤5-row census; nothing new moves. */
  def q398LangMargin(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val bg = d.select(col("doc_id"), col("lang"),
      explode(graft.functions.SimFns.charBigrams(col("text"))).as("b"))
    val prof = bg.groupBy("lang", "b").agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("b"))))
      .filter(col("rn") <= 20)
      .select(col("lang").as("cand_lang"), col("b"))
    val docBg = d.select(col("doc_id"),
      explode(array_distinct(graft.functions.SimFns.charBigrams(col("text"))))
        .as("b"))
    val score = docBg.join(broadcast(prof), "b")
      .groupBy("doc_id", "cand_lang").agg(count(lit(1)).as("ov"))
    val wDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("ov").desc, col("cand_lang"))
    val top2 = score.withColumn("rn", row_number().over(wDoc))
      .filter(col("rn") <= 2)
      .groupBy("doc_id")
      .agg(max(when(col("rn") === 1, col("cand_lang"))).as("pred_lang"),
        max(when(col("rn") === 1, col("ov"))).as("ov1"),
        coalesce(max(when(col("rn") === 2, col("ov"))), lit(0L))
          .as("ov2"))
      .withColumn("margin", col("ov1") - col("ov2"))
    d.select(col("doc_id"), col("lang")).join(top2, "doc_id")
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("margin")).as("sum_margin"),
        sum(when(col("margin") <= 1L, 1L).otherwise(0L)).as("n_low_conf"),
        sum(when(col("lang") === col("pred_lang"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(when(col("margin") > 1L && col("lang") === col("pred_lang"),
          1L).otherwise(0L)).as("n_correct_conf"),
        sum(when(col("margin") > 1L, 1L).otherwise(0L)).as("n_conf"))
      .select(col("pred_lang"), col("n_docs"),
        Parity.fix(col("sum_margin").cast("double") /
          col("n_docs").cast("double"), 6).as("mean_margin"),
        Parity.fix(col("n_low_conf").cast("double") /
          col("n_docs").cast("double"), 6).as("low_conf_share"),
        Parity.fix(col("n_correct").cast("double") /
          col("n_docs").cast("double"), 6).as("accuracy"),
        when(col("n_conf") === 0L, lit(null).cast("double"))
          .otherwise(Parity.fix(col("n_correct_conf").cast("double") /
            col("n_conf").cast("double"), 6)).as("accuracy_confident"))
      .orderBy("pred_lang")
  }

  val q398LangMarginSql: String =
    s"""WITH bg AS (
      |  SELECT doc_id, lang,
      |    unnest(list_transform(generate_series(1, length(text) - 1),
      |      i -> substr(text, i, 2))) AS b
      |  FROM documents),
      |prof AS (
      |  SELECT lang AS cand_lang, b FROM (
      |    SELECT lang, b, ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY COUNT(*) DESC, b) AS rn
      |    FROM bg GROUP BY lang, b)
      |  WHERE rn <= 20),
      |docbg AS (SELECT DISTINCT doc_id, b FROM bg),
      |score AS (
      |  SELECT d.doc_id, p.cand_lang, COUNT(*) AS ov
      |  FROM docbg d JOIN prof p USING (b) GROUP BY 1, 2),
      |top2 AS (
      |  SELECT doc_id,
      |    MAX(CASE WHEN rn = 1 THEN cand_lang END) AS pred_lang,
      |    MAX(CASE WHEN rn = 1 THEN ov END) AS ov1,
      |    COALESCE(MAX(CASE WHEN rn = 2 THEN ov END), 0) AS ov2
      |  FROM (
      |    SELECT doc_id, cand_lang, ov,
      |      ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY ov DESC, cand_lang) AS rn
      |    FROM score)
      |  WHERE rn <= 2 GROUP BY doc_id),
      |t AS (SELECT *, ov1 - ov2 AS margin FROM top2),
      |g AS (
      |  SELECT pred_lang, COUNT(*) AS n_docs,
      |    CAST(SUM(margin) AS BIGINT) AS sum_margin,
      |    CAST(SUM(CASE WHEN margin <= 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_low_conf,
      |    CAST(SUM(CASE WHEN d.lang = t.pred_lang THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_correct,
      |    CAST(SUM(CASE WHEN margin > 1 AND d.lang = t.pred_lang
      |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct_conf,
      |    CAST(SUM(CASE WHEN margin > 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_conf
      |  FROM documents d JOIN t USING (doc_id)
      |  GROUP BY pred_lang)
      |SELECT pred_lang, n_docs,
      |  ${Parity.fixSql("CAST(sum_margin AS DOUBLE) / n_docs", 6)} + 0
      |    AS mean_margin,
      |  ${Parity.fixSql("CAST(n_low_conf AS DOUBLE) / n_docs", 6)} + 0
      |    AS low_conf_share,
      |  ${Parity.fixSql("CAST(n_correct AS DOUBLE) / n_docs", 6)} + 0
      |    AS accuracy,
      |  CASE WHEN n_conf = 0 THEN NULL
      |    ELSE ${Parity.fixSql("CAST(n_correct_conf AS DOUBLE) / n_conf", 6)}
      |      + 0 END AS accuracy_confident
      |FROM g ORDER BY pred_lang""".stripMargin

}
