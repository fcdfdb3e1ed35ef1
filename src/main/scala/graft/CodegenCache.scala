package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}

/** The size of Spark's codegen cache. Spark keeps every compiled class in
  * one JVM-wide LRU of `spark.sql.codegen.cache.maxEntries` entries, a
  * static conf (default 100) read once, from `SQLConf.get`, when
  * `CodeGenerator` first initializes. One pass over the query surface
  * compiles thousands of classes (a stage's code is compiled where it is
  * planned and again in its tasks, under another class loader), so at
  * the default every warm pass recompiles every query. */
object CodegenCache {
  /** Holds the classes of a whole cold pass over all queries (4985
    * compiles at sf0.01 on 4 cores). */
  val Entries = 8192

  private var sized = false

  /** Builds Spark's codegen cache with `Entries` entries, or with the
    * value of `spark.sql.codegen.cache.maxEntries` when the session's
    * SparkConf sets it: the caller's own setting always wins. Idempotent,
    * and synchronized because concurrent clients share one context.
    *
    * Precondition: it takes effect only if it runs before the JVM's first
    * codegen, since the cache is built once and never resized. That holds
    * for every entry point in this repository: each reaches the engine
    * (through `LocalSession`, a `SparkEntry.queries` builder or
    * `SparkSpec`) before it runs any query. */
  def ensure(spark: SparkSession): Unit = synchronized {
    if (!sized) {
      val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
      val conf = new SQLConf
      conf.setConfString(key, spark.sparkContext.getConf.get(key, Entries.toString))
      // referencing the object runs its one-time initializer, which sizes
      // the cache from SQLConf.get
      SQLConf.withExistingConf(conf)(CodeGenerator)
      sized = true
    }
  }
}
