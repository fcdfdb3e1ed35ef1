package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.ops.{ConnectedComponents, KCore, KTruss, LabelProp, PageRank}
import org.apache.spark.GraftSchedulerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The fixpoint driver behind the iterative graph operators: one Spark
  * job per round, round counts equal to a sequential reference's, the
  * round bound, and a ratchet on the engine's checkpoint calls. */
class FixpointSpec extends SparkSpec {
  import spark.implicits._

  /** The undirected path 0 − 1 − … − (n − 1). */
  private def path(n: Int): DataFrame =
    (0L until n - 1L).map(i => (i, i + 1)).toDF("src", "dst")

  /** Jobs `body` starts. Adaptive execution (which runs each query stage
    * as its own job) and broadcast joins (one job per broadcast) are off
    * inside, so a round's plan runs as the one job of its action. */
  private def jobs(body: => Unit): Int = {
    val keys = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    GraftSchedulerBridge.drainListeners(sc)
    sc.addSparkListener(listener)
    try {
      body
      GraftSchedulerBridge.drainListeners(sc)
    } finally {
      sc.removeSparkListener(listener)
      saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    n.get
  }

  /** Runs `op` on two inputs that need `r1` and `r2` rounds, and checks
    * that the second run starts exactly one more job per extra round. */
  private def oneJobPerRound(r1: Int, r2: Int)(op: Int => DataFrame): Unit = {
    assert(r1 != r2)
    val j1 = jobs(op(r1).collect())
    val j2 = jobs(op(r2).collect())
    assert(j2 - j1 == r2 - r1,
      s"$r1 rounds ran $j1 jobs and $r2 rounds ran $j2: not one job per round")
  }

  test("connected components run one job per round") {
    // a path of n vertices converges in n rounds (the last changes nothing)
    oneJobPerRound(4, 10)(n => ConnectedComponents.components(path(n), "src", "dst"))
  }

  test("label propagation runs one job per round") {
    // the path is far from converged after 5 rounds, so maxIters rounds run
    oneJobPerRound(2, 5)(r => LabelProp.communities(path(16), "src", "dst", r))
  }

  test("k-core peeling runs one job per round") {
    // the 2-core of a path peels both ends each round: n / 2 peels + 1
    oneJobPerRound(4, 7)(r => KCore.kcore(path(2 * (r - 1)), 2))
  }

  test("k-truss peeling runs one job per round") {
    // K5's edges all close 3 triangles: nothing peels in its one round.
    // The square of a 6-path peels its 1-triangle edges in round 1, the
    // rest in round 2, and round 3 changes nothing.
    val k5 = (for (a <- 1L to 5L; b <- a + 1 to 5L) yield (a, b)).toDF("src", "dst")
    val squarePath = ((0L until 5L).map(i => (i, i + 1)) ++
      (0L until 4L).map(i => (i, i + 2))).toDF("src", "dst")
    oneJobPerRound(1, 3)(r =>
      KTruss.ktruss(if (r == 1) k5 else squarePath, "src", "dst", 4))
  }

  test("PageRank runs one job per round") {
    oneJobPerRound(2, 5)(r => PageRank.ranks(path(6), "src", "dst", iters = r))
  }

  /** Synchronous min-label rounds until one changes nothing. */
  private def seqComponents(n: Int): (Map[Long, Long], Int) = {
    val adj = (0L until n).map(v => v -> Seq(v - 1, v + 1).filter(u => u >= 0 && u < n)).toMap
    var labels = adj.keys.map(v => v -> v).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val next = adj.map { case (v, ns) => v -> (ns.map(labels) :+ labels(v)).min }
      changed = next != labels
      labels = next
      rounds += 1
    }
    (labels, rounds)
  }

  /** Sequential k-core peeling, counting the final round that peels nothing. */
  private def seqKcore(n: Int, k: Int): (Set[Long], Int) = {
    var adj = (0L until n).map(v => v -> Seq(v - 1, v + 1).filter(u => u >= 0 && u < n).toSet).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val bad = adj.collect { case (v, ns) if ns.size < k => v }.toSet
      changed = bad.nonEmpty
      adj = adj.collect { case (v, ns) if !bad(v) => v -> (ns -- bad) }.filter(_._2.nonEmpty)
      rounds += 1
    }
    (adj.keySet, rounds)
  }

  test("a 16-vertex path matches sequential components and peeling, round for round") {
    val (labels, ccRounds) = seqComponents(16)
    val cc = ConnectedComponents.run(path(16), "src", "dst", 25)
    assert(cc.converged && cc.rounds == ccRounds, s"${cc.rounds} rounds, reference $ccRounds")
    assert(cc.state.select("id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap == labels)

    for (k <- 1 to 2) {
      val (core, kRounds) = seqKcore(16, k)
      val kc = KCore.peel(path(16), k)
      assert(kc.converged && kc.rounds == kRounds, s"k=$k: ${kc.rounds} rounds, reference $kRounds")
      assert(KCore.kcore(path(16), k).collect().map(_.getLong(0)).toSet == core, s"k=$k")
    }
  }

  test("too few rounds: components fail, label propagation stops at the bound") {
    val err = intercept[IllegalArgumentException] {
      ConnectedComponents.components(path(16), "src", "dst", maxIters = 5)
    }
    assert(err.getMessage.contains("did not converge in 5 rounds"))

    val es = (0L until 15L).map(i => (i, i + 1))
    val got = LabelProp.communities(es.toDF("src", "dst"), "src", "dst", 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == LabelPropSpec.seqLpa(es, 3))
    assert(got != LabelPropSpec.seqLpa(es, 20), "the path should need more than 3 rounds")
  }

  test("the engine's localCheckpoint calls never grow in number") {
    // Each cut stores a frame in executor storage only, where nothing can
    // recompute it. The count may only shrink: lower it whenever a change
    // removes a call, until every cut goes through one cut node with one
    // policy (ROADMAP direction 1).
    val allowed = 62
    val walk = Files.walk(Paths.get("src/main/scala"))
    val files =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val sites = files.map(p => """\.localCheckpoint\(""".r.findAllIn(Files.readString(p)).size).sum
    assert(sites <= allowed, s"$sites `.localCheckpoint(` calls in src/main, at most $allowed allowed")
  }
}
