package graft

import graft.ops.KCore
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** KCore vs sequential peeling on the co-purchase graph, plus the
  * degree invariant and shrinking-core monotonicity. */
class KCoreSpec extends SparkSpec {
  import spark.implicits._

  /** Undirected co-purchase edges: parts sharing an order (a < b). */
  private def edges = {
    val l = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val a = l.as("a"); val b = l.as("b")
    a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  private def seqKcore(es: Seq[(Long, Long)], k: Int): Set[Long] = {
    var adj = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
    var changed = true
    while (changed) {
      val bad = adj.collect { case (v, ns) if ns.size < k => v }.toSet
      changed = bad.nonEmpty
      if (changed)
        adj = adj.collect {
          case (v, ns) if !bad(v) => v -> (ns -- bad)
        }.filter(_._2.nonEmpty)
    }
    adj.keySet.toSet
  }

  test("2-core matches sequential peeling") {
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = seqKcore(es, 2)
    val got = KCore.kcore(edges, 2).collect().map(_.getLong(0)).toSet
    assert(got == expected)
    assert(got.nonEmpty, "fixture co-purchase graph should have a 2-core")
  }

  test("every k-core vertex keeps degree >= k inside the core") {
    val core = KCore.kcore(edges, 3).collect().map(_.getLong(0)).toSet
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => core(a) && core(b) }
    val deg = es.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, vs) => v -> vs.size }
    core.foreach { v =>
      assert(deg.getOrElse(v, 0) >= 3, s"vertex $v has in-core degree < 3")
    }
  }

  test("cores are nested: (k+1)-core is a subset of the k-core") {
    val c2 = KCore.kcore(edges, 2).collect().map(_.getLong(0)).toSet
    val c3 = KCore.kcore(edges, 3).collect().map(_.getLong(0)).toSet
    assert(c3.subsetOf(c2))
  }

  test("a graph below threshold peels to empty") {
    val tiny = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst") // path: max core 1
    assert(KCore.kcore(tiny, 2).count() == 0)
  }

  test("an empty edge frame yields an empty vertex frame") {
    val got = KCore.kcore(Seq.empty[(Long, Long)].toDF("src", "dst"), 2)
    assert(got.schema.map(f => f.name -> f.dataType) == Seq("vertex" -> LongType))
    assert(got.collect().isEmpty)
  }
}
