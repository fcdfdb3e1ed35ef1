package graft

/** Local stand-in for the driver's t1 smoke: runs SparkEntry.entry and
  * prints its row count (driver requires rows > 0). */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession()
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(10, truncate = false)
    println(s"[smoke] entry rows = $n")
    spark.stop()
  }
}
