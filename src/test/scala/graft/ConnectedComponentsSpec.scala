package graft

import graft.ops.{ConnectedComponents, RecordLinkage}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Min-label propagation: exact components on a known graph, and the
  * linkage→entities composition over fixture match pairs. */
class ConnectedComponentsSpec extends SparkSpec {

  test("known graph: chains, a triangle, and an isolated self-loop") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain -> component 1
      (10L, 11L), (11L, 12L), (10L, 12L), // triangle -> component 10
      (20L, 20L))                      // self-loop -> component 20
      .toDF("a", "b")
    val got = ConnectedComponents.components(edges, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L))
  }

  test("components are a partition: one label per vertex, label in component") {
    import spark.implicits._
    // deterministic pseudo-random graph on 60 vertices
    val edges = (0 until 120).map { i =>
      val a = (i * 37) % 60; val b = (i * 53 + 11) % 60
      (a.toLong, b.toLong)
    }.toDF("a", "b")
    val comp = ConnectedComponents.components(edges, "a", "b")
    assert(comp.groupBy("id").count().filter(col("count") > 1).count() == 0,
      "every vertex must get exactly one label")
    // each component's label is its minimum member
    val bad = comp.groupBy("component").agg(min("id").as("m"))
      .filter(col("component") =!= col("m")).count()
    assert(bad == 0, "component label must be the smallest member id")
  }

  test("record-linkage pairs cluster into entities (q83 composition)") {
    val c = Tables.customer(spark, sf0001)
    val a = c.select(col("c_custkey").as("a_id"), col("c_name").as("a_name"),
      col("c_nationkey").as("nk"))
    val b = c.select(col("c_custkey").as("b_id"),
      regexp_replace(col("c_name"), "#0+", "#").as("b_name"),
      col("c_nationkey").as("nk"))
    val pairs = RecordLinkage.link(a, b, Seq("nk"),
        Seq(RecordLinkage.nameSim(col("a_name"), col("b_name")) -> 1.0),
        matchT = 0.6, possibleT = 0.6)
      .filter(col("clazz") === "match")
      .select("a_id", "b_id")
    val n = pairs.count()
    assert(n > 0, "linkage should produce match pairs on fixtures")
    val entities = ConnectedComponents.components(pairs, "a_id", "b_id")
    // entity count <= vertex count, and every matched record is labelled
    val vertices = pairs.select(col("a_id").as("v"))
      .union(pairs.select(col("b_id").as("v"))).distinct().count()
    assert(entities.count() == vertices)
    assert(entities.select("component").distinct().count() <= vertices)
  }

  test("an empty edge frame yields an empty (id, component) frame") {
    import spark.implicits._
    val got = ConnectedComponents.components(Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(got.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType, "component" -> LongType))
    assert(got.collect().isEmpty)
  }
}
