package graft

import graft.ops.KTruss
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** KTruss vs sequential support peeling on the co-purchase graph, plus
  * the per-edge support invariant and truss⊆core containment. */
class KTrussSpec extends SparkSpec {

  /** Undirected co-purchase edges: parts sharing an order (a < b). */
  private def edges = {
    val l = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val a = l.as("a"); val b = l.as("b")
    a.join(b, col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
      .select(col("a.pk").as("src"), col("b.pk").as("dst"))
      .distinct()
  }

  /** Sequential k-truss: peel edges whose triangle support < k−2. */
  private def seqKtruss(es: Seq[(Long, Long)], k: Int): Set[(Long, Long)] = {
    var cur = es.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    var changed = true
    while (changed) {
      val adj = cur.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
      val bad = cur.filter { case (a, b) =>
        (adj(a) & adj(b)).size < k - 2
      }
      changed = bad.nonEmpty
      cur = cur -- bad
    }
    cur
  }

  test("3-truss matches sequential support peeling") {
    val es = edges.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = seqKtruss(es, 3)
    val got = KTruss.ktruss(edges, "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected)
    // note: the 3-truss peels NOTHING here — the co-purchase graph is a
    // union of per-order cliques, so every edge closes a triangle; the
    // k = 4 nesting test below carries the does-it-actually-peel check
    assert(got.nonEmpty, "fixture co-purchase graph should have a 3-truss")
  }

  test("every surviving edge closes >= k-2 triangles inside the truss") {
    val k = 4
    val truss = KTruss.ktruss(edges, "src", "dst", k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val adj = truss.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2).toSet }
    truss.foreach { case (a, b) =>
      assert((adj(a) & adj(b)).size >= k - 2,
        s"edge ($a,$b) has support ${(adj(a) & adj(b)).size} < ${k - 2}")
    }
  }

  /** 5-clique + 4-clique (bridged), a path and a star — known truss
    * structure: the 3-truss keeps exactly the two cliques, the 5-truss
    * keeps only the 5-clique, the path/star/bridge always dissolve.
    * (The fixture co-purchase graph is too DENSE to peel at small k —
    * ~200 parts share orders heavily, so every edge has support ≈ 40;
    * the synthetic graph pins the peeling behavior deterministically.) */
  private def synth = {
    import spark.implicits._
    val clique5 = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val clique4 = for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)
    val path = Seq((20L, 21L), (21L, 22L), (22L, 23L))
    val star = (31L to 35L).map(v => (30L, v))
    val bridge = Seq((5L, 10L))
    (clique5 ++ clique4 ++ path ++ star ++ bridge).toDF("src", "dst")
  }

  test("synthetic graph: 3-truss keeps exactly the cliques; 5-truss only the 5-clique") {
    val t3 = KTruss.ktruss(synth, "src", "dst", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val clique5 = (for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)).toSet
    val clique4 = (for (a <- 10L to 13L; b <- (a + 1) to 13L) yield (a, b)).toSet
    assert(t3 == clique5 ++ clique4,
      s"3-truss must be the two cliques, got $t3")
    val t4 = KTruss.ktruss(synth, "src", "dst", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t4 == clique5 ++ clique4, "both cliques survive k = 4")
    val t5 = KTruss.ktruss(synth, "src", "dst", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t5 == clique5, "only the 5-clique survives k = 5")
    assert(t5.subsetOf(t4) && t4.subsetOf(t3), "truss hierarchy violated")
  }

  test("every 3-truss vertex sits in the 2-core (truss-core containment)") {
    val truss = KTruss.ktruss(edges, "src", "dst", 3)
      .collect().flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val core = graft.ops.KCore.kcore(edges, 2)
      .collect().map(_.getLong(0)).toSet
    assert(truss.subsetOf(core),
      "a 3-truss vertex has two triangle edges, hence core degree >= 2")
  }

  test("an empty edge frame yields an empty (u, v) frame") {
    import spark.implicits._
    val got = KTruss.ktruss(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst", 3)
    assert(got.schema.map(f => f.name -> f.dataType) == Seq("u" -> LongType, "v" -> LongType))
    assert(got.collect().isEmpty)
  }
}
