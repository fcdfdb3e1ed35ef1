package graft

import graft.ops.PageRank
import org.apache.spark.sql.types.{DoubleType, LongType}

/** ops.PageRank against a local reference implementation (plain Scala
  * maps) on hand-built graphs — exercising damping, weights, dangling
  * redistribution, and mass conservation.
  */
class PageRankSpec extends SparkSpec {

  /** Reference: same semantics, sequential. */
  private def reference(edges: Seq[(Long, Long, Double)], damping: Double,
      iters: Int): Map[Long, Double] = {
    val merged = edges.groupBy(e => (e._1, e._2))
      .map { case ((s, d), es) => (s, d, es.map(_._3).sum) }.toSeq
    val nodes = merged.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.size
    val outW = merged.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dangling = nodes.filterNot(outW.contains).map(r).sum
      val recv = merged.groupBy(_._2).map { case (d, es) =>
        d -> es.map(e => r(e._1) * e._3 / outW(e._1)).sum
      }
      r = nodes.map(v => v ->
        ((1.0 - damping) / n +
          damping * (recv.getOrElse(v, 0.0) + dangling / n))).toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long, Double)], weighted: Boolean,
      damping: Double, iters: Int): Map[Long, Double] = {
    import spark.implicits._
    val df = edges.toDF("src", "dst", "w")
    PageRank.ranks(df, "src", "dst",
        if (weighted) Some("w") else None, damping, iters)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  private def assertClose(got: Map[Long, Double], want: Map[Long, Double]): Unit = {
    assert(got.keySet == want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-12, s"node $k: $v vs ${want(k)}")
    }
    assert(math.abs(got.values.sum - 1.0) < 1e-9, "ranks must sum to 1")
  }

  test("star graph with a dangling hub matches the reference") {
    // 1,2,3 -> 0; 0 has no out-edges (dangling): its mass must
    // redistribute uniformly each round, keeping total mass 1
    val edges = Seq((1L, 0L, 1.0), (2L, 0L, 1.0), (3L, 0L, 1.0))
    val want = reference(edges, 0.85, 10)
    assertClose(run(edges, weighted = false, 0.85, 10), want)
    assert(want(0L) > want(1L), "hub must outrank leaves")
  }

  test("weighted edges split mass proportionally") {
    // 0 sends 3x more mass to 1 than to 2; parallel edge (0->1) merges
    val edges = Seq((0L, 1L, 2.0), (0L, 1L, 1.0), (0L, 2L, 1.0),
      (1L, 0L, 1.0), (2L, 0L, 1.0))
    val want = reference(edges, 0.85, 12)
    val got = run(edges, weighted = true, 0.85, 12)
    assertClose(got, want)
    assert(got(1L) > got(2L), "heavier in-edge must outrank")
  }

  test("unweighted option ignores the weight column") {
    val edges = Seq((0L, 1L, 9.0), (0L, 2L, 1.0), (1L, 0L, 1.0), (2L, 0L, 1.0))
    val got = run(edges, weighted = false, 0.85, 8)
    assert(math.abs(got(1L) - got(2L)) < 1e-12,
      "with unit weights 1 and 2 are symmetric")
  }

  test("cycle converges to uniform") {
    val edges = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 0L, 1.0))
    val got = run(edges, weighted = false, 0.85, 5)
    got.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-12))
  }

  test("an empty edge frame yields an empty (id, rank) frame") {
    import spark.implicits._
    val got = PageRank.ranks(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    assert(got.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType, "rank" -> DoubleType))
    assert(got.collect().isEmpty)
  }
}
