package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Graft, SparkEntry, Tables}

/** JVM side of the benchmark. `perfbench/run.py` picks the queries and
  * computes the metrics; this program runs the queries and records what
  * happened. Modes:
  *  - `run`: warm up, then closed-loop passes over `--queries` at
  *    `BenchSf`, one per 10 s of `--seconds`, checking every result; with
  *    `--trace 1`, untraced and traced passes, one pass at `ScaleSf`, and
  *    the kernel probes.
  *  - `survey`: a warm-up pass and a traced pass over every query of
  *    `SparkEntry.queries` at `BenchSf`, the input of the committed
  *    classification and expected results.
  *  - `digest-dump`: digests of a `graft.Verify` dump, to check the
  *    expected results against a dump that the DuckDB precheck passes. */
object Main {
  final class Args(a: Array[String]) {
    private val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  }

  def main(argv: Array[String]): Unit = {
    val a = new Args(argv)
    val spark = session(a("work"))
    try a("mode") match {
      case "run" => run(spark, a)
      case "survey" => survey(spark, a)
      case "digest-dump" => digestDump(spark, a)
      case m => sys.error(s"unknown mode $m")
    } finally spark.stop()
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  def session(work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  // ---------------------------------------------------------------- timing

  /** One timed call into the engine: build the DataFrame, then run the
    * full-result action. */
  final case class QueryRun(name: String, pass: Int, client: Int, startMs: Long,
      wallS: Double, cpuS: Double, buildS: Double, actionS: Double, planS: Double,
      rows: Long, digest: String, error: Option[String]) {
    def scope: String = QueryRun.scope(pass, name)
  }
  object QueryRun { def scope(pass: Int, name: String) = s"p$pass.$name" }

  def timeQuery(spark: SparkSession, name: String, dir: String, pass: Int,
      client: Int, ledger: Option[Ledger],
      inspect: DataFrame => Unit = _ => ()): QueryRun = {
    val sc = spark.sparkContext
    val run = QueryRun.scope(pass, name)
    val t0ms = System.currentTimeMillis()
    val c0 = cpuByThread()
    val t0 = System.nanoTime()
    var tb = t0
    var tbMs = t0ms
    var planS = 0.0
    var result = Digest.Result(-1, "", 0)
    var error: Option[String] = None
    try {
      sc.setLocalProperty(Ledger.ScopeKey, s"$run/build")
      val df = SparkEntry.queries(name)(spark, dir)
      tb = System.nanoTime(); tbMs = System.currentTimeMillis()
      sc.setLocalProperty(Ledger.ScopeKey, s"$run/action")
      result = Digest.of(df)
      planS = df.queryExecution.tracker.phases.values.map(_.durationMs).sum / 1e3
      inspect(df)
    } catch {
      case e: Throwable => error = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
    } finally sc.setLocalProperty(Ledger.ScopeKey, null)
    val t1 = System.nanoTime()
    val t1ms = System.currentTimeMillis()
    ledger.foreach { l =>
      l.addSpan(Span(run, "", run, "query", name, t0ms, t1ms))
      l.addSpan(Span(s"$run/build", run, run, "build", name, t0ms, tbMs))
      if (error.isEmpty) l.addSpan(Span(s"$run/action", run, run, "action", name, tbMs, t1ms))
    }
    QueryRun(name, pass, client, t0ms, (t1 - t0) / 1e9, cpuSinceS(c0), (tb - t0) / 1e9,
      if (error.isEmpty) (t1 - tb) / 1e9 else 0.0, planS, result.rows, result.digest, error)
  }

  /** One closed-loop pass: `clients` threads, each with its own session
    * on the shared context, take the next query as soon as their last one
    * finished. */
  def pass(sessions: IndexedSeq[SparkSession], names: Seq[String], dir: String,
      pass: Int, ledger: Option[Ledger]): (Double, Double, Seq[QueryRun]) = {
    val queue = new ConcurrentLinkedQueue[String](names.asJava)
    val done = new ConcurrentLinkedQueue[QueryRun]()
    val c0 = cpuByThread()
    val t0 = System.nanoTime()
    if (sessions.size == 1) {
      names.foreach(n => done.add(timeQuery(sessions.head, n, dir, pass, 0, ledger)))
      ((System.nanoTime() - t0) / 1e9, cpuSinceS(c0), done.asScala.toSeq)
    } else {
      val pool = Executors.newFixedThreadPool(sessions.size)
      try {
        val clients = sessions.zipWithIndex.map { case (s, c) =>
          pool.submit(new Runnable {
            def run(): Unit = {
              var n = queue.poll()
              while (n != null) { done.add(timeQuery(s, n, dir, pass, c, ledger)); n = queue.poll() }
            }
          })
        }
        clients.foreach(_.get())
        // Read while the client threads are still alive, so their work counts.
        ((System.nanoTime() - t0) / 1e9, cpuSinceS(c0), done.asScala.toSeq)
      } finally pool.shutdown()
    }
  }

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time so far of each live Java thread, by thread id: the driver,
    * the executor's task threads and Spark's service threads, not the JIT
    * compiler or the garbage collector. Unlike wall time it does not grow
    * while the host runs other guests' work, and unlike process CPU time
    * it does not count how far the JIT has got. */
  def cpuByThread(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 > 0).toMap
  }

  /** CPU seconds spent since `start` by the threads alive now, each from
    * its value in `start` (from 0 if it started later). A thread that ended
    * in between is left out, never subtracted: read this before the
    * threads whose work should count exit. */
  def cpuSinceS(start: Map[Long, Long]): Double =
    cpuByThread().iterator.map { case (id, ns) => ns - start.getOrElse(id, 0L) }.sum / 1e9

  def loadavg: String =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim.split(" ").take(3).mkString(" ")
    catch { case _: Throwable => "unavailable" }

  def peakRssMb: Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }

  /** Expected (rows, digest) per query, from the committed TSV. */
  def expected(path: String): Map[String, (Long, String)] =
    scala.io.Source.fromFile(path).getLines()
      .filterNot(l => l.startsWith("#") || l.startsWith("name\t")).map { l =>
      val f = l.split("\t")
      f(0) -> (f(1).toLong, f(2))
    }.toMap

  val Sentinel = "q1_pricing_summary"
  val PassSeconds = 10.0
  /** Scale factor of the timed passes, the survey and the expected results. */
  val BenchSf = "sf0.01"
  /** Scale factor of a traced run's extra pass, for `scale.exponent`. */
  val ScaleSf = "sf0.1"
  /** Queries of that pass: the first of the sample, which the seed
    * shuffles. The whole sample at sf0.1 would not fit a traced run
    * into its time limit. */
  val ScaleQueries = 2

  def note(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  // ------------------------------------------------------------------ run

  def run(spark: SparkSession, a: Args): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val data = a("data")
    val benchDir = s"$data/$BenchSf"
    val names = a("queries").split(",").toSeq
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val clients = a("clients").toInt
    val sessions = spark +: (1 until clients).map(_ => spark.newSession())
    val sc = spark.sparkContext
    val loadStart = loadavg

    // Warm-up: the sentinel once at sf0.001 loads and starts compiling the
    // engine's and Spark's driver paths. Each sampled query warms up in the
    // run's first pass; a query's time is its best pass, so the first
    // (cold) pass only counts where nothing was faster.
    timeQuery(spark, Sentinel, s"$data/sf0.001", -1, 0, None)
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val setupCpuS = cpuSinceS(Map.empty)
    note(f"set up in $setupWallS%.1f s")

    val sentinelStart = timeQuery(spark, Sentinel, benchDir, -2, 0, None)
    val ledger = new Ledger
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Double, Double, Seq[QueryRun])]
    // One pass per PassSeconds of --seconds, at least two. The count does
    // not depend on how fast the sample runs: a query's best pass gets
    // faster with every repeat while the JIT warms, so runs that repeat
    // their queries more often are not comparable. A traced run makes
    // three: a warm-up pass it does not record, then a traced and an
    // untraced one. The untraced pass is one pass warmer, so the tracing
    // overhead reads high rather than low; more passes would not fit a
    // traced run into its time limit.
    val nPasses = if (traced) 3 else math.max(2, math.round(seconds / PassSeconds).toInt)
    var p = 0
    while (p < nPasses) {
      val on = traced && p == 1
      if (on) sc.addSparkListener(ledger)
      val (wall, cpu, runs) = pass(sessions, names, benchDir, p, if (on) Some(ledger) else None)
      if (on) { Bus.drain(sc); sc.removeSparkListener(ledger) }
      if (!traced || p > 0) passes += ((p, on, wall, cpu, runs))
      note(f"pass $p (traced: $on) $wall%.2f s")
      p += 1
    }
    val sentinelEnd = timeQuery(spark, Sentinel, benchDir, -3, 0, None)

    val exp = expected(a("expected"))
    def check(r: QueryRun): Option[String] = r.error.orElse(exp.get(r.name) match {
      case None => Some("no expected result")
      case Some((rows, d)) if rows != r.rows || d != r.digest =>
        Some(s"wrong result: rows ${r.rows} digest ${r.digest}, expected rows $rows digest $d")
      case _ => None
    })

    val scale = if (!traced) None else {
      val (wall, _, runs) = pass(IndexedSeq(spark), names.take(ScaleQueries), s"$data/$ScaleSf", p, None)
      note(f"pass at $ScaleSf $wall%.2f s")
      Some((runs.map(_.name), wall, runs.count(_.error.nonEmpty)))
    }
    val kernels = if (traced) probeKernels(spark, s"$data/$ScaleSf") else Nil
    val loadEnd = loadavg

    val out = new Json
    out.obj {
      out.field("sf", BenchSf)
      out.field("setup_wall_s", setupWallS)
      out.field("setup_cpu_s", setupCpuS)
      out.field("peak_rss_mb", peakRssMb)
      out.field("nproc", cores)
      out.field("default_parallelism", sc.defaultParallelism)
      out.field("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
      out.field("clients", clients)
      out.field("loadavg_start", loadStart)
      out.field("loadavg_end", loadEnd)
      out.field("sentinel", Sentinel)
      out.field("sentinel_start_s", sentinelStart.wallS)
      out.field("sentinel_end_s", sentinelEnd.wallS)
      scale.foreach { case (scaled, wall, failed) =>
        out.field("scale_sf", ScaleSf); out.field("scale_queries", scaled)
        out.field("scale_wall_s", wall); out.field("scale_failed", failed)
      }
      out.key("kernels")
      out.obj(kernels.foreach { case (k, rows, ns) =>
        out.key(k); out.obj { out.field("rows", rows); out.field("ns", ns) } })
      out.key("passes")
      out.arr(passes.foreach { case (i, on, wall, cpu, runs) =>
        out.obj {
          out.field("pass", i); out.field("traced", on); out.field("wall_s", wall)
          out.field("cpu_s", cpu)
          out.key("queries")
          out.arr(runs.sortBy(_.startMs).foreach { r =>
            out.obj {
              out.field("name", r.name); out.field("client", r.client)
              out.field("start_ms", r.startMs)
              out.field("wall_s", r.wallS); out.field("cpu_s", r.cpuS)
              out.field("build_s", r.buildS); out.field("action_s", r.actionS); out.field("plan_s", r.planS)
              out.field("rows", r.rows)
              check(r).foreach(out.field("error", _))
              if (on) counts(out, ledger, r.scope)
            }
          })
        }
      })
    }
    Files.writeString(Paths.get(a("out")), out.toString)
    if (traced) writeSpans(ledger, a("spans"))
  }

  /** Per-phase counters of one query run. */
  def counts(out: Json, ledger: Ledger, scope: String): Unit = {
    val b = ledger.scope(s"$scope/build")
    val x = ledger.scope(s"$scope/action")
    out.field("build_jobs", b.jobs)
    out.field("cut_blocks", b.cutBlocks + x.cutBlocks)
    out.field("cut_bytes", b.cutBytes + x.cutBytes)
    out.field("collect_bytes", b.resultBytes)
    out.field("jobs", x.jobs)
    out.field("stages", x.stages)
    out.field("tasks", x.tasks)
    out.field("build_stages", b.stages)
    out.field("build_tasks", b.tasks)
    out.field("task_run_s", x.taskRunMs / 1e3)
    out.field("task_cpu_s", x.taskCpuNs / 1e9)
    out.field("gc_s", (b.gcMs + x.gcMs) / 1e3)
    out.field("shuffle_write_bytes", b.shuffleWriteBytes + x.shuffleWriteBytes)
    out.field("shuffle_read_bytes", b.shuffleReadBytes + x.shuffleReadBytes)
    out.field("fetch_wait_s", (b.fetchWaitMs + x.fetchWaitMs) / 1e3)
    out.field("spill_bytes", b.spillBytes + x.spillBytes)
    out.field("scan_bytes", b.scanBytes + x.scanBytes)
    out.field("scan_rows", b.scanRows + x.scanRows)
    out.field("write_bytes", b.writeBytes + x.writeBytes)
    out.field("write_rows", b.writeRows + x.writeRows)
    out.key("action_stage_ms")
    out.arr(x.stageIntervals.foreach { case (s, e) => out.arr { out.value(s); out.value(e) } })
  }

  def writeSpans(ledger: Ledger, path: String): Unit = {
    val w = new PrintWriter(new File(path), "UTF-8")
    try ledger.spansSoFar.sortBy(s => (s.startMs, s.id)).foreach { s =>
      val j = new Json
      j.obj {
        j.field("id", s.id); j.field("parent", s.parent); j.field("run", s.run)
        j.field("kind", s.kind); j.field("name", s.name)
        j.field("start_ms", s.startMs); j.field("end_ms", s.endMs)
      }
      w.println(j.toString)
    } finally w.close()
  }

  // -------------------------------------------------------------- kernels

  /** Cost per row of each `graft.functions` kernel, called through the
    * `Graft` facade over a cached sf0.1 column with every output value
    * consumed, less the cost of reading the input column (its length).
    * Time is the tasks' CPU time, so job overhead does not count; each
    * side is the mean of `Passes` passes. */
  def probeKernels(spark: SparkSession, dir: String): Seq[(String, Long, Double)] = {
    val Passes = 3
    def cached(df: DataFrame): DataFrame = { val c = df.repartition(cores).cache(); c.count(); c }
    /** Mean task seconds per full pass over `df`. */
    def perPass(df: DataFrame): Double =
      (1 to Passes).map(_ => Digest.of(df).taskNs / 1e9).sum / Passes
    val text = cached(Tables.documents(spark, dir).select(
      col("text"), split(col("text"), " ").as("toks"),
      split(lower(col("text")), " ").as("toks_lower")))
    val vec = cached(Tables.embeddings(spark, dir).select(
      col("embedding").as("v"), reverse(col("embedding")).as("w")))
    val (textIn, vecIn) = (length(col("text")), size(col("v")))
    val probes: Seq[(String, DataFrame, Column, Column)] = Seq(
      ("cosineSim", vec, Graft.cosineSim(col("v"), col("w")), vecIn),
      ("jaccardSim", text, Graft.jaccardSim(col("toks"), col("toks_lower")), size(col("toks"))),
      ("charBigrams", text, Graft.charBigrams(col("text")), textIn),
      ("tokenHashes", text, Graft.tokenHashes(col("text")), textIn),
      ("simHash", text, Graft.simHash(col("text")), textIn),
      ("redact", text, Graft.redact(col("text")), textIn),
      ("l2Normalize", vec, Graft.l2Normalize(col("v")), vecIn),
      ("randomProject", vec, Graft.randomProject(col("v"), 16), vecIn))
    val res = probes.map { case (k, in, kernel, input) =>
      Digest.of(in.limit(256).select(kernel)) // compile and JIT before timing
      val rows = in.count()
      val ns = (perPass(in.select(kernel)) - perPass(in.select(input))) * 1e9
      note(f"kernel $k ${ns / rows}%.1f ns/row over $rows rows")
      (k, rows, ns)
    }
    Seq(text, vec).foreach(_.unpersist())
    res
  }

  // --------------------------------------------------------------- survey

  private def isWrite(p: LogicalPlan): Boolean = p.exists {
    case _: V2WriteCommand | _: DataWritingCommand => true
    case c => c.nodeName.contains("MergeInto") || c.nodeName.contains("AsSelect")
  }

  private def tablesRead(p: LogicalPlan): Seq[String] = p.collectWithSubqueries {
    case l: LogicalRelation => l.relation match {
      case h: HadoopFsRelation => h.location.rootPaths.map(_.getName).toSeq
      case _ => Nil
    }
  }.flatten.map(_.stripSuffix(".parquet"))

  /** One traced pass over every query at `BenchSf`, after an untraced
    * warm-up pass over all of them: per-query construction jobs, writes,
    * tables its final analyzed plan reads, times (the CPU time of a warm
    * run is what the benchmark stratifies its samples by), and the
    * result's row count and digest. `run.py survey` turns this into the
    * committed classification and expected results. */
  def survey(spark: SparkSession, a: Args): Unit = {
    val data = a("data")
    val sc = spark.sparkContext
    val names = SparkEntry.queries.keys.toSeq.sorted
    names.foreach(n => timeQuery(spark, n, s"$data/$BenchSf", -1, 0, None))
    val seen = new ConcurrentLinkedQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = seen.add(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    })
    val ledger = new Ledger
    sc.addSparkListener(ledger)
    val out = new Json
    out.arr(names.foreach { n =>
      Bus.drain(sc); seen.clear()
      var finalPlan = List.empty[LogicalPlan]
      val r = timeQuery(spark, n, s"$data/$BenchSf", 0, 0, Some(ledger),
        df => finalPlan = List(df.queryExecution.analyzed))
      Bus.drain(sc)
      val construction = seen.asScala.toList.map(_.analyzed)
      out.obj {
        out.field("name", n); out.field("sf", BenchSf)
        out.field("wall_s", r.wallS); out.field("cpu_s", r.cpuS); out.field("build_s", r.buildS)
        out.field("rows", r.rows); out.field("digest", r.digest)
        r.error.foreach(out.field("error", _))
        out.field("writes", construction.exists(isWrite))
        out.field("tables", finalPlan.flatMap(tablesRead).distinct.sorted)
        counts(out, ledger, r.scope)
      }
    })
    Files.writeString(Paths.get(a("out")), out.toString)
  }

  def digestDump(spark: SparkSession, a: Args): Unit = {
    val dump = a("dump")
    val out = new Json
    out.obj(new File(dump).listFiles().filter(_.isDirectory).map(_.getName).sorted.foreach { n =>
      val d = Digest.of(spark.read.parquet(s"$dump/$n"))
      out.key(n); out.obj { out.field("rows", d.rows); out.field("digest", d.digest) }
    })
    Files.writeString(Paths.get(a("out")), out.toString)
  }
}

/** Minimal streaming JSON writer for the run record. */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb += ','; first = false }
  private def str(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  def key(k: String): Unit = { sep(); str(k); sb += ':'; first = true }
  def value(v: Any): Unit = {
    sep()
    v match {
      case s: String => str(s)
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case b: Boolean => sb ++= b.toString
      case n: Number => sb ++= n.toString
      case xs: Seq[_] => first = true; sb += '['; xs.foreach(value); sb += ']'; first = false
    }
  }
  def field(k: String, v: Any): Unit = { key(k); value(v); first = false }
  def obj(body: => Unit): Unit = { sep(); sb += '{'; first = true; body; sb += '}'; first = false }
  def arr(body: => Unit): Unit = { sep(); sb += '['; first = true; body; sb += ']'; first = false }
  override def toString: String = sb.toString
}
