package graft

import org.apache.spark.metrics.source.CodegenMetrics

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // comma-separated query-name subset for local iteration; the driver
    // never sets it, so its rounds always time the full set
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSet).getOrElse(Set.empty[String])
    def selected = if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (k, _) => only(k) }
    val cpus = LocalSession.envCores
    val spark = LocalSession(cpus)
    // Untimed warm-up: compiles every query's generated code and JITs
    // the scan/shuffle internals, so the timed loop below measures the
    // queries, not first-use JVM costs. The compiled code stays cached
    // only because Spark's codegen cache holds all the queries' classes
    // (`CodegenCache.Entries`); `codegen_compiles` in the window shows
    // what each timed pass still compiled.
    val warmDir = LocalSession.warmDir(sfDir)
    selected.foreach { case (_, fn) =>
      try { fn(spark, warmDir).count() } catch { case _: Throwable => () }
    }
    // Best of two timed passes per query: a single pass is at the mercy
    // of whatever else the host is doing (observed 1.7x run-to-run drift
    // on the same build); the per-query minimum is the standard
    // steady-state estimator.
    def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def timedPass(pass: Int): (Map[String, Double], Set[String], Long) = {
      val c0 = compiles
      val failed = scala.collection.mutable.Set.empty[String]
      val times = selected.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable =>
          failed += name
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
        val t = (System.nanoTime() - t0) / 1e9
        // stream each timing as it lands: the driver's artifact keeps only
        // the tail of stdout, so a contended or anomalous run (round 5's
        // q105 at 21 s vs 4 s local) must be diagnosable from stderr lines,
        // not just the one end-of-run JSON blob
        System.err.println(f"[bench] pass$pass $name%-28s $t%8.3f s")
        name -> t
      }
      (times, failed.toSet, compiles - c0)
    }
    // Self-documenting measurement window (r18 verdict #4): a contended
    // host shows up as uniform per-query inflation that is otherwise
    // only adjudicable by cross-referencing replicate runs. Stamp the
    // wall window, the host load (/proc/loadavg: the 1/5/15-min run
    // queue INCLUDING whatever else the machine is doing), and both
    // raw pass totals so drift is readable from the artifact alone.
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split(" ").take(3).mkString(" ")
      catch { case _: Throwable => "unavailable" }
    def nowIso: String = java.time.OffsetDateTime.now(
      java.time.ZoneOffset.UTC).toString
    val (tStart, loadStart) = (nowIso, loadavg)
    val (p1, f1, c1) = timedPass(1)
    val (p2, f2, c2) = timedPass(2)
    val (tEnd, loadEnd) = (nowIso, loadavg)
    val failed = f1 ++ f2
    val results = p1.map { case (name, t) => name -> math.min(t, p2(name)) }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    def tot(p: Map[String, Double]) = if (p.nonEmpty) p.values.sum else 0.0
    // a failing query must be visible in the JSON, not silently counted
    // as its time-to-exception
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val window = s""""window":{"t_start":"$tStart","t_end":"$tEnd",""" +
      s""""loadavg_start":"$loadStart","loadavg_end":"$loadEnd",""" +
      s""""cpus":$cpus,"default_parallelism":${spark.sparkContext.defaultParallelism},""" +
      s""""pass_totals":[${tot(p1)},${tot(p2)}],"codegen_compiles":[$c1,$c2]}"""
    // "queries" leads and the scalar fields TRAIL: the driver's artifact
    // keeps only the LAST bytes of this line, so putting the total/failed
    // after the (long) queries map is what makes them tail-survivable.
    println(s"""{"metric":"total","unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson,$window,"n_queries":${results.size},"value":$total}""")
    spark.stop()
  }
}
