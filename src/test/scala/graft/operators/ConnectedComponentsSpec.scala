package graft.operators

import graft.SparkSpec
import org.apache.spark.graft.{JobCount, ShuffleAndBlocks}
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

  test("below the cutover run writes no shuffle bytes and stores no RDD block") {
    // a chain recorded both ways with self-loops: the finisher takes the raw
    // rows, so nothing deduplicates or checkpoints them
    val edges = spark.range(0, 200, 1, 4)
      .select($"id".as("src"), ($"id" + 1).as("dst"))
      .union(spark.range(0, 200, 1, 4).select(($"id" + 1).as("src"), $"id".as("dst")))
      .union(spark.range(0, 20, 1, 2).select($"id".as("src"), $"id".as("dst")))
    val (labels, shuffleBytes, rddBlocks) = ShuffleAndBlocks(spark.sparkContext)(
      ConnectedComponents.run(edges).as[(Long, Long)].collect())
    assert(labels.length == 201 && labels.forall(_._2 == 0L))
    assert(shuffleBytes == 0L, s"wrote $shuffleBytes shuffle bytes")
    assert(rddBlocks == 0, s"stored $rddBlocks RDD blocks")
  }

  test("a known edge bound at most the cutover collects the edges in one job") {
    // 8 partitions of an RDD, whose row count the planner does not know:
    // the bounded take scans 1, then 4, then the last 3 partitions, one job
    // each, before it knows the edges are few
    val edges = spark.sparkContext
      .parallelize((0L until 100L).map(i => (2 * i, 2 * i + 1)), 8).toDF("src", "dst")
    val (bounded, boundedJobs) = JobCount(spark.sparkContext)(
      ConnectedComponents.run(edges, maxEdgeRows = Some(100L)))
    val (taken, takeJobs) = JobCount(spark.sparkContext)(ConnectedComponents.run(edges))
    assert(boundedJobs == 1, s"the finisher's edges took $boundedJobs jobs")
    assert(takeJobs > 1, s"without a bound the incremental take ran $takeJobs jobs")
    val want = (0L until 100L).flatMap(i => Seq(2 * i -> 2 * i, (2 * i + 1) -> 2 * i)).toMap
    assert(bounded.as[(Long, Long)].collect().toMap == want)
    assert(taken.as[(Long, Long)].collect().toMap == want)
    // a bound over the cutover keeps the bounded take and the distributed rounds
    assert(ConnectedComponents.run(edges, driverFinishEdges = 50, maxEdgeRows = Some(100L))
      .as[(Long, Long)].collect().toMap == want)
  }

  test("repeats over the cutover run one distributed round, then the finisher") {
    // trees of three edges, each edge recorded both ways, twice: 60 unique
    // edges in 240 rows. A cutover of 61 sends the raw rows distributed;
    // round 1 dedups and contracts them to 60 star edges, under the cutover
    val unique = (0L until 20L).flatMap { t =>
      val a = t * 10
      Seq((a, a + 1), (a, a + 2), (a + 2, a + 3))
    }
    val raw = Seq.fill(2)(unique ++ unique.map(_.swap)).flatten
    val df = raw.toDF("src", "dst")
    val cutover = unique.length + 1
    assert(unique.length < cutover && cutover < raw.length)
    val (viaRound1, shuffleBytes, _) = ShuffleAndBlocks(spark.sparkContext)(
      ConnectedComponents.run(df, driverFinishEdges = cutover).as[(Long, Long)].collect().toMap)
    assert(shuffleBytes > 0L, "the raw count is over the cutover, so round 1 runs distributed")
    val distributed = ConnectedComponents.run(df, driverFinishEdges = 0)
      .as[(Long, Long)].collect().toMap
    assert(viaRound1 == distributed && viaRound1.size == 80)
  }

  test("Profile's planted graph: a path and four-edge trees, same labels both ways") {
    // 240 edges: a path over ids 0-10, then 57 full trees and one of 2 edges
    val edges = graft.Profile.plantedGraph(spark, 240)
    assert(edges.count() == 240)
    val local = ConnectedComponents.run(edges).as[(Long, Long)].collect().toMap
    assert(local.size == 11 + 57 * 5 + 3 && local.values.toSet.size == 1 + 58)
    assert((0L to 10L).forall(local(_) == 0L))
    assert(local == ConnectedComponents.run(edges, driverFinishEdges = 0)
      .as[(Long, Long)].collect().toMap)
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
