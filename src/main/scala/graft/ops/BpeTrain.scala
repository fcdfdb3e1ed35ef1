package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge training — the vocabulary-construction step of
  * a byte-pair-encoding tokenizer (Sennrich et al., ACL 2016): starting
  * from characters, repeatedly merge the most frequent adjacent symbol
  * pair across the corpus. Training runs on the WORD-FREQUENCY table
  * (word, count) — vocab-sized, not corpus-sized — which is what makes
  * BPE tractable at 100 TB: the one corpus-scale pass is the word count
  * (a q40-style explode + map-side-combined agg); every merge iteration
  * after that touches only the vocabulary.
  *
  * Per iteration: (1) count adjacent symbol pairs weighted by word
  * count — `zip_with` of the symbol array against its own tail, explode,
  * one hash agg; (2) take the argmax on the driver (ONE row — ties
  * broken by (count desc, pair lexicographic) so the learned sequence is
  * deterministic); (3) apply the merge with a single-pass `aggregate`
  * higher-order function (greedy left-to-right, merged tokens do not
  * re-merge within the same iteration — the standard single-scan rule).
  * All lambdas are Column-built (no string interpolation, so symbols
  * containing quotes cannot break the expression; no UDFs, stays in
  * codegen). The vocab frame is localCheckpoint-ed per round to keep
  * lineage flat across iterations (as [[Fixpoint]] does for graphs).
  */
object BpeTrain {

  /** Greedy single-pass merge of adjacent (a, b) → a+b over a symbol
    * array, as a Column expression. */
  private[ops] def mergePair(symbols: Column, pa: String, pb: String): Column = {
    val emptyOut = typedlit(Seq.empty[String])
    val noPrev = lit(null).cast("string")
    aggregate(
      symbols,
      struct(emptyOut.as("out"), noPrev.as("prev")),
      (acc, s) => {
        val out = acc.getField("out")
        val prev = acc.getField("prev")
        when(prev.isNull, struct(out.as("out"), s.as("prev")))
          .when(prev === lit(pa) && s === lit(pb),
            struct(array_append(out, lit(pa + pb)).as("out"), noPrev.as("prev")))
          .otherwise(
            struct(array_append(out, prev).as("out"), s.as("prev")))
      },
      acc => when(acc.getField("prev").isNull, acc.getField("out"))
        .otherwise(array_append(acc.getField("out"), acc.getField("prev"))))
  }

  /** Learn `nMerges` merges from `words` (columns `word: String`,
    * `cnt: Long`). Returns the ordered merge list; stops early when no
    * adjacent pair remains. */
  def train(words: DataFrame, nMerges: Int): Seq[(String, String)] = {
    var vocab = words
      .select(chars(col("word")).as("symbols"), col("cnt"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(String, String)]
    var i = 0
    var exhausted = false
    while (i < nMerges && !exhausted) {
      val top = vocab
        .select(explode(zip_with(
          slice(col("symbols"), lit(1), size(col("symbols")) - 1),
          slice(col("symbols"), lit(2), size(col("symbols")) - 1),
          (x, y) => struct(x.as("a"), y.as("b")))).as("p"), col("cnt"))
        .groupBy(col("p.a"), col("p.b")).agg(sum(col("cnt")).as("c"))
        .orderBy(col("c").desc, col("a"), col("b"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (pa, pb) = (top(0).getString(0), top(0).getString(1))
        merges += ((pa, pb))
        vocab = vocab
          .withColumn("symbols", mergePair(col("symbols"), pa, pb))
          .localCheckpoint()
        i += 1
      }
    }
    merges.result()
  }

  /** Character-array projection of a word. Spark's `split` with limit −1
    * emits a trailing empty match on a zero-width pattern — filtered so
    * no phantom symbol enters the pair statistics. */
  private[ops] def chars(word: Column): Column =
    filter(split(word, ""), x => x =!= lit(""))

  /** Tokenize a `word` column with a learned merge list (training-order
    * application, the BPE inference rule). Column-only, usable in any
    * projection. */
  def applyMerges(word: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(chars(word)) {
      case (symbols, (a, b)) => mergePair(symbols, a, b)
    }
}
