package graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerJobStart}
import scala.collection.mutable

/** Optimization-round measurement tool (guide §1): run ONE named query
  * from [[SparkEntry.queries]] with the bench's session settings and
  * print a per-stage cost table (task time, shuffle bytes, input bytes,
  * spill) plus the formatted plan, so "where does the time go" is
  * answered from data instead of guesses. Not part of the driver
  * contract; never invoked by Bench/Verify.
  *
  * Usage: scripts/run.sh graft.Profile <query> [sfDir] [--plan]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.drop(1).filterNot(_.startsWith("--"))
      .headOption.getOrElse("/root/testdata/sf0.1")
    val wantPlan = args.contains("--plan")
    val spark = LocalSession()
    val fn = SparkEntry.queries(name)
    // warm-up at the smallest SF, exactly like Bench
    try fn(spark, LocalSession.warmDir(sfDir)).count()
    catch { case _: Throwable => () }

    case class St(id: Int, name: String, tasks: Int, runMs: Long,
      cpuMs: Long, inBytes: Long, shRead: Long, shWrite: Long,
      spill: Long, wallMs: Long)
    val stages = mutable.ArrayBuffer.empty[St]
    var jobs = 0
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        val wall = (for { a <- si.completionTime; b <- si.submissionTime }
          yield a - b).getOrElse(0L)
        stages += St(si.stageId, si.name.takeWhile(_ != '\n').take(70),
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled, wall)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    val built = (System.nanoTime() - t0) / 1e9
    val n = df.count()
    val total = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(300) // drain listener bus
    println(f"== $name rows=$n total=$total%.3f s (build=$built%.3f s) jobs=$jobs stages=${stages.size}")
    println(f"${"stage"}%6s ${"tasks"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s ${"input"}%10s ${"shRead"}%10s ${"shWrite"}%10s ${"spill"}%8s  name")
    stages.sortBy(-_.wallMs).take(25).foreach { s =>
      println(f"${s.id}%6d ${s.tasks}%5d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d ${s.inBytes}%10d ${s.shRead}%10d ${s.shWrite}%10d ${s.spill}%8d  ${s.name}")
    }
    val sumWall = stages.map(_.wallMs).sum
    val sumRun = stages.map(_.runMs).sum
    println(f"== stage wall sum=${sumWall}ms taskRun sum=${sumRun}ms (gaps = driver/plan time)")
    if (wantPlan) { println("== plan =="); println(df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))) }
    spark.stop()
  }
}
