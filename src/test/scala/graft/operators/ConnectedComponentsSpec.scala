package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap

  test("single edge") {
    assert(cc(Seq((1L, 2L))) == Map(1L -> 1L, 2L -> 1L))
  }

  test("chain collapses to min id (worst-case diameter)") {
    val chain = (1L until 40L).map(i => (i, i + 1))
    val got = cc(chain)
    assert(got.size == 40 && got.values.forall(_ == 1L))
  }

  test("descending chain and shuffled edge orientations") {
    val chain = (1L until 30L).map(i => (i + 1, i)) // reversed orientation
    val got = cc(chain)
    assert(got.values.forall(_ == 1L))
  }

  test("two components + clique") {
    val clique = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val other = Seq((100L, 101L), (101L, 102L))
    val got = cc(clique ++ other)
    assert((10L to 14L).forall(got(_) == 10L))
    assert((100L to 102L).forall(got(_) == 100L))
  }

  test("duplicate and self-loop edges are harmless") {
    val got = cc(Seq((1L, 2L), (2L, 1L), (1L, 1L), (1L, 2L)))
    assert(got == Map(1L -> 1L, 2L -> 1L))
  }

  test("star graph with high-degree hub") {
    val star = (2L to 60L).map(i => (1L, i))
    val got = cc(star)
    assert(got.values.forall(_ == 1L) && got.size == 60)
  }

  test("labelsWithSingletons keeps isolated vertices as their own cluster") {
    val vertices = (1L to 10L).toDF("node")
    val edges = Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")
    val got = ConnectedComponents.labelsWithSingletons(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(got(1L) == 1L && got(2L) == 1L && got(3L) == 3L && got(4L) == 3L)
    assert((5L to 10L).forall(i => got(i) == i))
  }

  test("labelsWithSingletons emits one row per distinct vertex") {
    // a url ingested twice is one vertex listed twice
    val vertices = Seq(1L, 2L, 2L, 3L, 3L, 3L).toDF("node")
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val got = ConnectedComponents.labelsWithSingletons(vertices, edges)
      .as[(Long, Long)].collect().sorted.toSeq
    assert(got == Seq((1L, 1L), (2L, 1L), (3L, 3L)))
  }

  test("negative ids (xxhash64 node ids are signed)") {
    val got = cc(Seq((-5L, 3L), (3L, 7L)))
    assert(got.values.forall(_ == -5L))
  }

  test("driver union-find finisher ≡ fully distributed contraction") {
    // mixed shapes: clique, chain, star, negatives, singleton pair
    val edges = (for (i <- 10L to 16L; j <- (i + 1) to 16L) yield (i, j)) ++
      (100L until 140L).map(i => (i, i + 1)) ++
      (2L to 8L).map(i => (1000L, 1000L + i)) ++
      Seq((-9L, -3L), (-3L, 500L), (7777L, 7778L))
    val df = edges.toDF("src", "dst")
    val local = ConnectedComponents.run(df) // default cutover: takes the local path
      .as[(Long, Long)].collect().toMap
    val distributed = ConnectedComponents.run(df, driverFinishEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(local == distributed)
  }

  test("in-loop cutover after contraction shrinks the frontier") {
    // clique of 40 → 780 distinct edges > 100 threshold, so rounds start
    // distributed; one round contracts to a 39-edge star ≤ 100 → local finish
    val clique = for (i <- 1L to 40L; j <- (i + 1) to 40L) yield (i, j)
    val got = ConnectedComponents.run(clique.toDF("src", "dst"), driverFinishEdges = 100)
      .as[(Long, Long)].collect().toMap
    assert(got.size == 40 && got.values.forall(_ == 1L))
  }
}
