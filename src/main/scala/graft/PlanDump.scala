package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Dump `.explain("formatted")` for named queries into files — the
  * optimization-round before/after plan artifacts (plans/r19/...).
  *
  * Usage: scripts/run.sh graft.PlanDump <outDir> <suffix> <query>...
  * Writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val spark = LocalSession(logLevel = "ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val p = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), p)
      println(s"wrote $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
