package graft.ops

import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Lexical-richness and corpus-distribution statistics, split out of
  * [[TextQueries]] in round 16 (the file had crossed the repo's
  * ~2,000-line seam threshold): readability (Flesch), repeat-rate
  * (Yule's K), frequency-of-frequencies smoothing (Good-Turing),
  * distribution distance (Bhattacharyya/Hellinger), and the richness
  * estimators (Chao1 + Good's coverage, ACE), plus Gries' DP term
  * dispersion. All share the explode -> hash-agg shape: partial
  * aggregation collapses token explosion before the shuffle, so the
  * exchanged volume is ~|vocab| x |groups|, independent of corpus
  * size.
  */
object LexicalRichnessQueries {

  /** L151 Flesch reading-ease readability (Flesch 1948 [PK]; the
    * Kincaid recalibration powers every "grade level" readout): per
    * English document, word / sentence / syllable counts and
    * 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words) — the
    * classical curation signal the Gopher/C4 rules (q162) don't carry:
    * HOW HARD a passage reads, not just whether it's boilerplate.
    *
    * Syllables use the standard regex surrogate — maximal vowel runs
    * [aeiouyAEIOUY]+ per word — which is deterministic and engine-
    * identical for the ASCII fixture corpus (FixtureContractSpec pins
    * ASCII-ness; Java and DuckDB RE2 regexes agree on pure-ASCII
    * character classes). Sentences = maximal [.!?]+ runs, floored at 1.
    *
    * Parity: three exact int64 counts per row; the score is one
    * identical double chain, 4dp. Scale: embarrassingly parallel row
    * map over the codegen'd regexp_count kernel — no shuffle until the
    * final order. */
  def q217Flesch(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).filter(col("lang") === "en")
      .select(col("doc_id"),
        regexp_count(col("text"), lit("[A-Za-z]+")).cast("long").as("n_words"),
        greatest(regexp_count(col("text"), lit("[.!?]+")).cast("long"), lit(1L))
          .as("n_sentences"),
        regexp_count(col("text"), lit("[aeiouyAEIOUY]+")).cast("long")
          .as("n_syllables"))
      .filter(col("n_words") > 0)
    d.select(col("doc_id"), col("n_words"), col("n_sentences"),
      col("n_syllables"),
      (round(lit(206.835)
        - lit(1.015) * col("n_words").cast("double") / col("n_sentences")
        - lit(84.6) * col("n_syllables").cast("double") / col("n_words"), 4)
        + 0.0).as("flesch"))
      .orderBy("doc_id")
  }

  val q217FleschSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT)
      |      AS n_words,
      |    GREATEST(CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT),
      |      1) AS n_sentences,
      |    CAST(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
      |      AS n_syllables
      |  FROM documents WHERE lang = 'en')
      |SELECT doc_id, n_words, n_sentences, n_syllables,
      |  ROUND(206.835
      |    - 1.015 * CAST(n_words AS DOUBLE) / n_sentences
      |    - 84.6 * CAST(n_syllables AS DOUBLE) / n_words, 4) + 0 AS flesch
      |FROM d WHERE n_words > 0
      |ORDER BY doc_id""".stripMargin

  /** L156 Yule's characteristic K (Yule 1944 [PK]): per-language
    * lexical repetitiveness 10⁴·(Σ c_w² − N)/N² over the word-frequency
    * census — the size-robust repetition constant (unlike raw TTR, K is
    * approximately text-length invariant), the single-number cousin of
    * the q145 vocabulary-coverage curve and a standard template/spam
    * signal beside q91's within-document repetition filter.
    *
    * Parity: the frequency census is exact int64; Σ c² rides
    * DECIMAL(38,0)/HUGEINT (a 10⁹-token corpus with a 10⁸-count stop
    * word overflows int64); K is one double chain, 4dp.
    *
    * Scale: the same map-side-combinable (lang, word) census as
    * q40/q170; the K algebra runs on ≤|langs| rows. */
  def q222YuleK(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
    wc.groupBy("lang")
      .agg(count(lit(1)).as("n_types"),
        sum(col("cnt")).as("n_tokens"),
        sum(col("cnt").cast(dec) * col("cnt").cast(dec)).as("s2"))
      .select(col("lang"), col("n_tokens"), col("n_types"),
        (round(lit(1.0e4) *
          (col("s2").cast("double") - col("n_tokens").cast("double")) /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")),
          4) + 0.0).as("yule_k"))
      .orderBy("lang")
  }

  val q222YuleKSql: String =
    """WITH wc AS (
      |  SELECT lang, w, COUNT(*) AS cnt
      |  FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  GROUP BY lang, w)
      |SELECT lang,
      |  CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |  COUNT(*) AS n_types,
      |  ROUND(1e4 * (CAST(SUM(CAST(cnt AS HUGEINT) * cnt) AS DOUBLE)
      |      - CAST(SUM(cnt) AS DOUBLE))
      |    / (CAST(SUM(cnt) AS DOUBLE) * CAST(SUM(cnt) AS DOUBLE)), 4) + 0
      |    AS yule_k
      |FROM wc GROUP BY lang ORDER BY lang""".stripMargin

  /** L157 Good–Turing frequency smoothing (Good 1953 [PK]; the
    * count-of-counts estimator behind Katz back-off): per language,
    * the frequency-of-frequencies census V_r for r = 1..5, the
    * smoothed counts r* = (r+1)·V_{r+1}/V_r, and the unseen-mass
    * estimate P₀ = V₁/N — "how much probability belongs to words we
    * have never seen", the vocabulary-openness readout behind the
    * q145 coverage curve and any LM perplexity the corpus feeds.
    * Measured over word BIGRAMS (the Katz back-off unit — and the
    * fixture's unigram vocabulary is CLOSED, so every unigram exceeds
    * r = 5 past sf0.01 and the unigram ladder is empty; the bigram
    * space stays open).
    *
    * Parity: the double census (bigram counts → count-of-counts) is
    * exact int64 end-to-end; r* and P₀ are single double chains, 4/6dp
    * (NULL r* where V_{r+1} = 0 — DuckDB and Spark agree on NULL
    * arithmetic here because the CASE guards it explicitly).
    *
    * Scale: two map-side-combinable censuses (the q192 bigram census
    * collapsed again by count); the V_{r+1} lookup is a lag over the
    * ≤5-row-per-language frequency ladder. */
  def q223GoodTuring(s: SparkSession, dir: String): DataFrame = {
    val wc = Tables.documents(s, dir)
      .select(col("lang"),
        explode(graft.functions.SimFns.wordBigrams(col("text"))).as("w"))
      .groupBy("lang", "w").agg(count(lit(1)).as("cnt"))
    val tot = wc.groupBy("lang")
      .agg(sum(col("cnt")).as("n_tokens"), count(lit(1)).as("n_types"))
    val coc = wc.filter(col("cnt") <= 6)
      .groupBy(col("lang"), col("cnt").as("r"))
      .agg(count(lit(1)).as("v_r"))
    val wNext = Window.partitionBy("lang").orderBy("r")
    coc
      .withColumn("v_r1",
        when(lead(col("r"), 1).over(wNext) === col("r") + 1,
          lead(col("v_r"), 1).over(wNext)).otherwise(lit(0L)))
      .filter(col("r") <= 5)
      .join(broadcast(tot), "lang")
      .select(col("lang"), col("r"), col("v_r"), col("v_r1"),
        when(col("v_r1") > 0,
          round((col("r") + 1).cast("double") * col("v_r1") / col("v_r"), 4)
            + 0.0).as("r_star"),
        when(col("r") === 1,
          round(col("v_r").cast("double") / col("n_tokens"), 6) + 0.0)
          .as("p_unseen"))
      .orderBy("lang", "r")
  }

  val q223GoodTuringSql: String =
    """WITH wc AS (
      |  SELECT lang, w, COUNT(*) AS cnt
      |  FROM (SELECT lang,
      |      unnest(CASE WHEN len(string_split(text,' ')) < 2 THEN []
      |        ELSE list_transform(
      |          generate_series(1, len(string_split(text,' ')) - 1),
      |          i -> string_split(text,' ')[i] || ' '
      |            || string_split(text,' ')[i+1]) END) AS w
      |    FROM documents)
      |  GROUP BY lang, w),
      |tot AS (
      |  SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    COUNT(*) AS n_types
      |  FROM wc GROUP BY lang),
      |coc AS (
      |  SELECT lang, cnt AS r, COUNT(*) AS v_r
      |  FROM wc WHERE cnt <= 6 GROUP BY lang, cnt),
      |lk AS (
      |  SELECT lang, r, v_r,
      |    CASE WHEN LEAD(r, 1) OVER (PARTITION BY lang ORDER BY r) = r + 1
      |      THEN LEAD(v_r, 1) OVER (PARTITION BY lang ORDER BY r)
      |      ELSE 0 END AS v_r1
      |  FROM coc)
      |SELECT lk.lang, r, v_r, CAST(v_r1 AS BIGINT) AS v_r1,
      |  CASE WHEN v_r1 > 0
      |    THEN ROUND(CAST(r + 1 AS DOUBLE) * v_r1 / v_r, 4) + 0 END
      |    AS r_star,
      |  CASE WHEN r = 1
      |    THEN ROUND(CAST(v_r AS DOUBLE) / n_tokens, 6) + 0 END AS p_unseen
      |FROM lk JOIN tot ON lk.lang = tot.lang
      |WHERE r <= 5
      |ORDER BY lk.lang, r""".stripMargin

  /** L169 Bhattacharyya coefficient + Hellinger distance between
    * source unigram distributions (Bhattacharyya 1943, Hellinger [PK]):
    * BC = Σ√(p·q) over the shared vocabulary (disjoint-support terms
    * are exactly 0, so the inner join IS the full sum — cheaper than
    * q185's JS, whose disjoint mass telescopes into a constant), and
    * H = √(1 − BC) — a proper metric in [0,1], the drift family's
    * geometry-respecting member beside PSI (q146), KS (q147), EMD
    * (q182), TV (q160), and JS (q185).
    *
    * Parity: p = cnt/tot is an exact-int division; √(p·q) is IEEE
    * sqrt (correctly rounded, engine-identical); per-term values
    * quantize to nano-units before the integer SUM (q185 discipline,
    * partition-order independent); H = √(max(1−BC, 0)) guards the
    * ≤ n_shared·5e-10 quantization overshoot past BC = 1 identically
    * on both engines.
    *
    * Scale: ONE vocab-keyed self-equi-join with |sources|²-bounded
    * fan-out per word; censuses map-side combinable. */
  def q235Hellinger(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    val wc = d.select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("cnt"))
    val tot = d.groupBy("source")
      .agg(sum(size(tokens(col("text"))).cast("long")).as("tot"))
    val p = wc.join(broadcast(tot), "source")
      .select(col("source"), col("w"),
        (col("cnt").cast("double") / col("tot").cast("double")).as("p"))
    val a = p.select(col("source").as("src_a"), col("w"), col("p").as("pa"))
    val b = p.select(col("source").as("src_b"), col("w"), col("p").as("pb"))
    a.join(b, Seq("w")).filter(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        Parity.quant(sqrt(col("pa") * col("pb")), 1e9).as("tq"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared"), sum("tq").as("sq"))
      .select(col("src_a"), col("src_b"), col("n_shared"),
        Parity.fix(col("sq").cast("double") / lit(1.0e9), 6)
          .as("bc"),
        (round(sqrt(greatest(lit(1.0) -
          col("sq").cast("double") / lit(1.0e9), lit(0.0))), 6) + 0.0)
          .as("hellinger"))
      .orderBy("src_a", "src_b")
  }

  val q235HellingerSql: String =
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
      |    ${Parity.quantSql("SQRT(a.p * b.p)", 9)} AS tq
      |  FROM p a JOIN p b ON a.w = b.w AND a.source < b.source),
      |g AS (
      |  SELECT src_a, src_b, COUNT(*) AS n_shared,
      |    CAST(SUM(tq) AS BIGINT) AS sq
      |  FROM t GROUP BY src_a, src_b)
      |SELECT src_a, src_b, n_shared,
      |  ${Parity.fixSql("CAST(sq AS DOUBLE) / 1e9", 6)} AS bc,
      |  ROUND(SQRT(GREATEST(1.0 - CAST(sq AS DOUBLE) / 1e9, 0.0)), 6) + 0
      |    AS hellinger
      |FROM g ORDER BY src_a, src_b""".stripMargin

  /** L196 Chao1 richness + Good's coverage (Chao 1984, Good 1953 [PK]):
    * from the word-TRIGRAM frequency spectrum — V observed types, f₁
    * singletons, f₂ doubletons — estimate the UNSEEN phrase inventory
    * (Chao1 = V + f₁(f₁−1)/(2(f₂+1)), bias-corrected form, defined even
    * at f₂ = 0) and the sample coverage C = 1 − f₁/N. The "how much of
    * the language have we actually crawled" diagnostic that turns L74's
    * observed vocabulary curve into an asymptote estimate, on the same
    * spectrum q223's Good–Turing smooths.
    *
    * Parity: V/N/f₁/f₂ exact int64 off the type-count census; the two
    * estimates are one double chain 4dp/6dp.
    *
    * Scale: explode → type-count hash agg (map-side combined) → a
    * 2-level ≤|counts| spectrum agg. Guards: an empty corpus nulls
    * both estimates. */
  def q269Chao1(s: SparkSession, dir: String): DataFrame = {
    // word-TRIGRAM spectrum, not unigrams: the synthetic corpus closes
    // its unigram vocabulary even at sf0.001 (zero singletons — the
    // estimator would be vacuous, the q175 lesson), while the trigram
    // space stays open at every SF (f1 = 9,402 / 9,424 / 207 at
    // sf0.001/0.01/0.1 — measured)
    val tri = Tables.documents(s, dir)
      .select(tokens(col("text")).as("ts"))
      // docs under 3 tokens contribute no trigrams; the filter (not a
      // greatest() clamp) matters because Spark's sequence(1, 0) counts
      // DOWN and would fabricate ghost windows on short/empty docs
      .filter(size(col("ts")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 2), " +
          "i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))")).as("w"))
    val wc = tri.groupBy("w").agg(count(lit(1)).as("c"))
    val g = wc.agg(count(lit(1)).as("v"), sum(col("c")).as("n"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("f1"),
      sum(when(col("c") === 2, 1L).otherwise(0L)).as("f2"))
    val chao = col("v").cast("double") +
      col("f1").cast("double") * (col("f1") - 1).cast("double") /
        (lit(2.0) * (col("f2") + 1).cast("double"))
    val cov = lit(1.0) - col("f1").cast("double") / col("n").cast("double")
    g.select(col("v").as("n_types"), col("n").as("n_tokens"),
      col("f1").as("singletons"), col("f2").as("doubletons"),
      when(col("n").isNull || col("n") === 0, lit(null).cast("double"))
        .otherwise(round(chao, 4) + 0.0).as("chao1"),
      when(col("n").isNull || col("n") === 0, lit(null).cast("double"))
        .otherwise(round(cov, 6) + 0.0).as("good_coverage"))
  }

  val q269Chao1Sql: String =
    """WITH toks AS (
      |  SELECT string_split(text, ' ') AS ts FROM documents),
      |tri AS (
      |  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
      |  FROM (SELECT ts AS t,
      |          unnest(range(1, greatest(len(ts) - 1, 1))) AS i
      |        FROM toks)),
      |wc AS (SELECT w, COUNT(*) AS c FROM tri GROUP BY w),
      |g AS (
      |  SELECT COUNT(*) AS v, CAST(SUM(c) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      |  FROM wc)
      |SELECT v AS n_types, n AS n_tokens, f1 AS singletons,
      |  f2 AS doubletons,
      |  CASE WHEN n IS NULL OR n = 0 THEN NULL ELSE
      |    ROUND(CAST(v AS DOUBLE) + CAST(f1 AS DOUBLE) * (f1 - 1)
      |      / (2.0 * (f2 + 1)), 4) + 0 END AS chao1,
      |  CASE WHEN n IS NULL OR n = 0 THEN NULL ELSE
      |    ROUND(1.0 - CAST(f1 AS DOUBLE) / n, 6) + 0 END AS good_coverage
      |FROM g""".stripMargin

  /** L197 term dispersion DP (Gries 2008 [PK]): for each frequent term,
    * DP = Σᵢ|vᵢ − sᵢ|/2 over corpus parts (sources) — vᵢ the term's
    * occurrence share in part i, sᵢ the part's token share. DP ≈ 0 ⇒
    * the term is spread as the corpus is; DP → 1 ⇒ it lives in one
    * part — the burstiness screen that separates topical spike terms
    * from core vocabulary, which raw frequency (L10) cannot see.
    *
    * Parity: shares are exact int64 ratios; the |v−s| sum quantizes to
    * nano units per (term, part) before the integer sum per term.
    *
    * Scale: one (term, source) hash agg; source totals by a ≤|sources|
    * window; top-20 by TakeOrdered. Parts ABSENT for a term contribute
    * |0 − sᵢ| = sᵢ, handled in closed form: DP = Σ_present(|vᵢ−sᵢ|−sᵢ)/2
    * + Σ_all sᵢ/2 where the second term is exactly 1/2 — no dense
    * term×part grid is ever built (the sparse-completion identity). */
  def q271TermDispersion(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val cell = tok.groupBy("w", "source").agg(count(lit(1)).as("nws"))
    val wSrc = Window.partitionBy("source")
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wTerm = Window.partitionBy("w")
    val t0 = cell
      .withColumn("ns", sum(col("nws")).over(wSrc))
      .withColumn("nt", sum(col("nws")).over(wAll))
      .withColumn("nw", sum(col("nws")).over(wTerm))
    val vi = col("nws").cast("double") / col("nw").cast("double")
    val si = col("ns").cast("double") / col("nt").cast("double")
    val termQ = Parity.quant(abs(vi - si) - si, 1e9)
    t0.select(col("w"), col("nw"), termQ.as("tq"))
      .groupBy("w", "nw").agg(sum(col("tq")).as("sq"))
      .filter(col("nw") >= 50)
      .select(col("w").as("term"), col("nw").as("n_occurrences"),
        Parity.fix((col("sq").cast("double") / 1e9 + 1.0) / 2.0, 6)
          .as("dp"))
      .orderBy(col("n_occurrences").desc, col("term"))
      .limit(20)
  }

  val q271TermDispersionSql: String =
    s"""WITH tok AS (
      |  SELECT source, w
      |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
      |        FROM documents)
      |  WHERE w <> ''),
      |cell AS (
      |  SELECT w, source, COUNT(*) AS nws FROM tok GROUP BY w, source),
      |t AS (
      |  SELECT *,
      |    CAST(SUM(nws) OVER (PARTITION BY source) AS BIGINT) AS ns,
      |    CAST(SUM(nws) OVER () AS BIGINT) AS nt,
      |    CAST(SUM(nws) OVER (PARTITION BY w) AS BIGINT) AS nw
      |  FROM cell),
      |q AS (
      |  SELECT w, nw,
      |    CAST(SUM(
      |      ${Parity.quantSql("(ABS(CAST(nws AS DOUBLE) / nw" +
                               " - CAST(ns AS DOUBLE) / nt) - CAST(ns AS DOUBLE) / nt)", 9)}
      |      ) AS BIGINT) AS sq
      |  FROM t GROUP BY w, nw)
      |SELECT w AS term, nw AS n_occurrences,
      |  ${Parity.fixSql("(CAST(sq AS DOUBLE) / 1e9 + 1.0) / 2.0", 6)} AS dp
      |FROM q WHERE nw >= 50
      |ORDER BY n_occurrences DESC, term LIMIT 20""".stripMargin

  /** L273 ACE richness estimator ([PK] Chao & Lee 1992 —
    * abundance-based coverage estimator), on q269's word-TRIGRAM
    * spectrum (the unigram vocabulary closes even at sf0.001 — q269's
    * measured lesson): S_ACE = S_abund + S_rare/Ĉ + (F₁/Ĉ)·γ̂², with
    * Ĉ = 1 − F₁/N_rare the sample coverage of the rare group
    * (counts ≤ 10) and γ̂² the rare-group CV correction
    * max(0, (S_rare/Ĉ)·Σi(i−1)Fᵢ/(N_rare(N_rare−1)) − 1). The
    * abundance-weighted companion to q269's Chao1 (which uses only
    * F₁/F₂): when the two disagree the rare tail is heterogeneous —
    * the "how much vocabulary haven't we crawled yet" pair.
    *
    * Parity: the frequency-of-frequency census is exact int64
    * (Σi(i−1)Fᵢ included); Ĉ, γ̂², ACE are one fixed double chain,
    * coverage 6dp, ACE 4dp.
    *
    * Scale: the q269 shape — one explode → trigram hash agg (map-side
    * combinable) → ONE ≤10-bin frequency census aggregate. */
  def q339AceRichness(s: SparkSession, dir: String): DataFrame = {
    val tri = Tables.documents(s, dir)
      .select(tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, size(ts) - 2), " +
          "i -> concat_ws(' ', ts[i-1], ts[i], ts[i+1]))")).as("w"))
    val wc = tri.groupBy("w").agg(count(lit(1)).as("c"))
    val g = wc.agg(
      sum(when(col("c") > 10L, 1L).otherwise(0L)).as("sa"),
      sum(when(col("c") <= 10L, 1L).otherwise(0L)).as("sr"),
      sum(when(col("c") <= 10L, col("c")).otherwise(0L)).as("nr"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("f1"),
      sum(when(col("c") <= 10L, col("c") * (col("c") - 1L))
        .otherwise(0L)).as("ssq"))
    def f(c: String) = col(c).cast("double")
    val cov = lit(1.0) - f("f1") / f("nr")
    val g2raw = f("sr") / cov * f("ssq") /
      (f("nr") * (f("nr") - 1.0)) - 1.0
    val g2 = greatest(g2raw, lit(0.0))
    val ace = f("sa") + f("sr") / cov + f("f1") / cov * g2
    val bad = col("nr") < 2L || col("f1") === col("nr")
    g.select(col("sa").cast("long").as("s_abund"),
      col("sr").cast("long").as("s_rare"),
      col("nr").cast("long").as("n_rare"),
      col("f1").cast("long").as("singletons"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(cov, 6)).as("coverage"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(g2, 6)).as("gamma2"),
      when(bad, lit(null).cast("double"))
        .otherwise(Parity.fix(ace, 4)).as("ace"))
  }

  val q339AceRichnessSql: String =
    s"""WITH toks AS (
      |  SELECT string_split(text, ' ') AS ts FROM documents),
      |tri AS (
      |  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS w
      |  FROM (SELECT ts AS t,
      |          unnest(range(1, greatest(len(ts) - 1, 1))) AS i
      |        FROM toks)),
      |wc AS (SELECT w, COUNT(*) AS c FROM tri GROUP BY w),
      |g AS (
      |  SELECT
      |    CAST(SUM(CASE WHEN c > 10 THEN 1 ELSE 0 END) AS BIGINT) AS sa,
      |    CAST(SUM(CASE WHEN c <= 10 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS sr,
      |    CAST(SUM(CASE WHEN c <= 10 THEN c ELSE 0 END) AS BIGINT)
      |      AS nr,
      |    CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
      |    CAST(SUM(CASE WHEN c <= 10 THEN c * (c - 1) ELSE 0 END)
      |      AS BIGINT) AS ssq
      |  FROM wc),
      |fin AS (
      |  SELECT *,
      |    1.0 - CAST(f1 AS DOUBLE) / nr AS cov,
      |    GREATEST(CAST(sr AS DOUBLE) / (1.0 - CAST(f1 AS DOUBLE) / nr)
      |      * ssq / (CAST(nr AS DOUBLE) * (CAST(nr AS DOUBLE) - 1.0))
      |      - 1.0, 0.0) AS g2
      |  FROM g)
      |SELECT sa AS s_abund, sr AS s_rare, nr AS n_rare,
      |  f1 AS singletons,
      |  CASE WHEN nr < 2 OR f1 = nr THEN NULL
      |    ELSE ${Parity.fixSql("cov", 6)} + 0 END AS coverage,
      |  CASE WHEN nr < 2 OR f1 = nr THEN NULL
      |    ELSE ${Parity.fixSql("g2", 6)} + 0 END AS gamma2,
      |  CASE WHEN nr < 2 OR f1 = nr THEN NULL
      |    ELSE ${Parity.fixSql("(CAST(sa AS DOUBLE) + CAST(sr AS DOUBLE) / cov" +
                                " + CAST(f1 AS DOUBLE) / cov * g2)", 4)}
      |      + 0 END
      |    AS ace
      |FROM fin""".stripMargin

}
