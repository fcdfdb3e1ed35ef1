package graft

import graft.functions._
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL surface for graft's custom Catalyst expressions (SURVEY.md §2.10):
  * registers them in the session FunctionRegistry so `spark.sql("SELECT
  * cosine_sim(a, b) ...")` plans the same codegen'd kernels the Column
  * API uses.
  *
  * Two entry points:
  *  - config-based: `.config("spark.sql.extensions", "graft.GraftExtensions")`
  *    at session build time (the standard extensions mechanism);
  *  - programmatic: `GraftFunctions.register(spark)` on a live session.
  */
object GraftFunctions {
  private[graft] def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of two float arrays",
      es => CosineSimExpr(es(0), es(1))),
    ("jaccard_sim", "jaccard_sim(a, b) - jaccard of two element-distinct string arrays",
      es => JaccardSimExpr(es(0), es(1))),
    ("jaccard_sorted_sim", "jaccard_sorted_sim(a, b) - jaccard of two element-distinct SORTED string arrays (zero-allocation merge)",
      es => JaccardSortedSimExpr(es(0), es(1))),
    ("char_bigrams", "char_bigrams(text) - all 2-char substrings",
      es => CharBigramsExpr(es.head)),
    ("word_bigrams", "word_bigrams(text) - space-joined adjacent token pairs",
      es => WordBigramsExpr(es.head)),
    ("token_hashes", "token_hashes(text) - per-token polynomial hashes",
      es => TokenHashesExpr(es.head)),
    ("doc_hash", "doc_hash(arr) - order-sensitive fold of a token-hash array",
      es => DocHashExpr(es.head)),
    ("nfc_normalize", "nfc_normalize(text) - Unicode NFC canonical composition",
      es => NfcNormalizeExpr(es.head)),
    ("fold_accents", "fold_accents(text) - NFD-decompose, drop combining marks, NFC-recompose",
      es => FoldAccentsExpr(es.head)),
    ("haversine_km", "haversine_km(lat1, lon1, lat2, lon2) - great-circle km, R = 6371.0088",
      es => HaversineExpr(es(0), es(1), es(2), es(3))),
  )

  /** Register every graft function on a live session. */
  def register(spark: SparkSession): Unit = {
    val registry = GraftColumnBridge.functionRegistry(spark)
    all.foreach { case (name, usage, builder) =>
      registry.registerFunction(FunctionIdentifier(name), info(name, usage), builder)
    }
  }
}

/** `spark.sql.extensions` entry point: kernel SQL functions, the as-of
  * join planner strategy and its pushdown rule, and the ordered-carry
  * planner strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        GraftFunctions.info(name, usage), builder))
    }
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsofJoin)
    ext.injectPlannerStrategy(_ => graft.plans.OrderedCarryStrategy)
  }
}
