package graft

import graft.ops.LabelProp
import org.apache.spark.sql.types.LongType
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** LabelProp vs a sequential reference of the identical deterministic
  * rule (sync rounds, self-vote, max-count/min-label), plus structure
  * and determinism pins. */
class LabelPropSpec extends SparkSpec {
  import spark.implicits._
  import LabelPropSpec.seqLpa

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(1042L + i)))

  private def run(es: Seq[(Long, Long)], maxIters: Int = 10): Map[Long, Long] =
    LabelProp.communities(es.toDF("src", "dst"), "src", "dst", maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two cliques with one bridge resolve to two communities") {
    val c1 = for (a <- 0L to 3L; b <- 0L to 3L if a < b) yield (a, b)
    val c2 = for (a <- 10L to 13L; b <- 10L to 13L if a < b) yield (a, b)
    val got = run(c1 ++ c2 :+ (3L, 10L))
    assert(got.filter(_._1 <= 3L).values.toSet.size == 1)
    assert(got.filter(_._1 >= 10L).values.toSet.size == 1)
    assert(got(0L) != got(10L), "the bridge must not merge the cliques")
  }

  test("matches the sequential reference on generated graphs") {
    val gen = Gen.listOfN(30,
      Gen.zip(Gen.choose(0L, 11L), Gen.choose(0L, 11L)))
      .map(_.filter { case (a, b) => a != b })
      .suchThat(_.nonEmpty)
    for (es <- samples(gen, 6)) {
      assert(run(es) == seqLpa(es, 10), s"edges=$es")
    }
  }

  test("deterministic across repeated runs") {
    val es = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L), (7L, 1L), (8L, 5L))
    assert(run(es) == run(es))
  }

  test("an empty edge frame yields an empty (id, community) frame") {
    val got = LabelProp.communities(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst")
    assert(got.schema.map(f => f.name -> f.dataType) == Seq("id" -> LongType, "community" -> LongType))
    assert(got.collect().isEmpty)
  }
}

object LabelPropSpec {

  /** The same synchronous self-voting rule, sequentially. */
  def seqLpa(es: Seq[(Long, Long)], maxIters: Int): Map[Long, Long] = {
    val sym = es.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }.distinct
    val adj = sym.groupBy(_._1).map { case (v, ns) => v -> ns.map(_._2) }
    var labels = adj.keys.map(v => v -> v).toMap
    var it = 0
    var changed = true
    while (changed && it < maxIters) {
      val next = adj.map { case (v, ns) =>
        val votes = (ns.map(labels) :+ labels(v))
          .groupBy(identity).map { case (l, vs) => (l, vs.size) }
        v -> votes.minBy { case (l, c) => (-c, l) }._1
      }
      changed = next != labels
      labels = next
      it += 1
    }
    labels
  }
}
