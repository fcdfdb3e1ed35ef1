package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

/** Work one scope caused in Spark. A scope is one phase (build or action)
  * of one query run; the runner names it in the thread-local property
  * [[Ledger.ScopeKey]] before calling into the engine, and every job
  * submitted from that thread carries it. */
final class Counts {
  var jobs, stages, tasks = 0L
  var taskRunMs, taskCpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, fetchWaitMs, spillBytes = 0L
  var scanBytes, scanRows, writeBytes, writeRows, resultBytes = 0L
  var cutBlocks, cutBytes = 0L
  /** (submitted, completed) wall-clock ms of every completed stage. */
  val stageIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One traced interval: a query, its build or action phase, a job or a
  * stage. Spans of one query run share `run`. */
final case class Span(id: String, parent: String, run: String, kind: String,
    name: String, startMs: Long, endMs: Long)

/** The benchmark's own SparkListener: counts per scope and job/stage
  * spans, kept in memory until the run writes them out. Events arrive on
  * the listener bus thread; read only after [[org.apache.spark.perfbench.Bus.drain]]. */
final class Ledger extends SparkListener {
  private val counts = new ConcurrentHashMap[String, Counts]()
  private val jobScope = mutable.Map.empty[Int, String]
  private val stageScope = mutable.Map.empty[Int, String]
  private val rddScope = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val spans = mutable.ArrayBuffer.empty[Span]

  def scope(name: String): Counts = counts.computeIfAbsent(name, _ => new Counts)
  def spansSoFar: Seq[Span] = synchronized(spans.toList)
  def addSpan(s: Span): Unit = synchronized(spans += s)

  private def at(stageId: Int): Option[Counts] = stageScope.get(stageId).map(scope)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val s = Option(e.properties).flatMap(p => Option(p.getProperty(Ledger.ScopeKey)))
    s.foreach { sc =>
      jobScope(e.jobId) = sc
      jobStart(e.jobId) = e.time
      e.stageInfos.foreach { si =>
        stageScope(si.stageId) = sc
        stageJob(si.stageId) = e.jobId
        si.rddInfos.foreach(r => rddScope.getOrElseUpdate(r.id, sc))
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobScope.remove(e.jobId).foreach { sc =>
      val c = scope(sc)
      c.jobs += 1
      addSpan(Span(s"job${e.jobId}", sc, Ledger.runOf(sc), "job", s"job ${e.jobId}",
        jobStart.remove(e.jobId).getOrElse(e.time), e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    at(si.stageId).foreach { c =>
      c.stages += 1
      val t0 = si.submissionTime.getOrElse(0L)
      val t1 = si.completionTime.getOrElse(t0)
      c.stageIntervals += ((t0, t1))
      val sc = stageScope(si.stageId)
      addSpan(Span(s"stage${si.stageId}.${si.attemptNumber()}",
        stageJob.get(si.stageId).map(j => s"job$j").getOrElse(sc), Ledger.runOf(sc),
        "stage", si.name, t0, t1))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = at(e.stageId).foreach { c =>
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.scanBytes += m.inputMetrics.bytesRead
      c.scanRows += m.inputMetrics.recordsRead
      c.writeBytes += m.outputMetrics.bytesWritten
      c.writeRows += m.outputMetrics.recordsWritten
      c.resultBytes += m.resultSize
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rddId, _) if info.storageLevel.isValid =>
        rddScope.get(rddId).map(scope).foreach { c =>
          c.cutBlocks += 1
          c.cutBytes += info.memSize + info.diskSize
        }
      case _ =>
    }
  }
}

object Ledger {
  val ScopeKey = "perfbench.scope"
  /** Scope names are `<run>/<phase>`. */
  def runOf(scope: String): String = scope.takeWhile(_ != '/')
}
