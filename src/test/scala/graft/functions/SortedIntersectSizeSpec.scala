package graft.functions

import graft.SparkSpec
import graft.functions.SortedIntersectSize.sortedIntersectSize
import org.apache.spark.sql.functions._

/** Differential spec: the merge-walk kernel against Spark's own
  * `size(array_intersect(a, b))` on ascending, distinct inputs, through
  * both the generated and the interpreted evaluation paths.
  */
class SortedIntersectSizeSpec extends SparkSpec {
  import spark.implicits._

  private def sortedDistinct(n: Int, draw: => Long): Seq[Long] =
    Seq.fill(n)(draw).distinct.sorted

  private lazy val cases: Seq[(Option[Seq[Long]], Option[Seq[Long]])] = {
    val rnd = new java.util.SplittableRandom(11)
    // narrow signed ranges around 0: negative and positive longs, and
    // overlaps from sparse to near-total
    val narrow = (1 to 300).map { _ =>
      val r = 1L + rnd.nextLong(200)
      def draw = rnd.nextLong(-r, r + 1)
      (Some(sortedDistinct(rnd.nextInt(80), draw)), Some(sortedDistinct(rnd.nextInt(80), draw)))
    }
    // full 64-bit range (hash-like), with a planted shared part
    val wide = (1 to 100).map { _ =>
      val shared = Seq.fill(rnd.nextInt(40))(rnd.nextLong())
      def side = Some((shared ++ Seq.fill(rnd.nextInt(200))(rnd.nextLong())).distinct.sorted)
      (side, side)
    }
    val x = Seq(Long.MinValue, -5L, -1L, 0L, 3L, Long.MaxValue)
    val edges = Seq(
      (Some(Nil), Some(Nil)), (Some(Nil), Some(x)), (Some(x), Some(Nil)),
      (Some(x), Some(x)), // identical
      (Some(Seq(Long.MinValue, -3L, -1L)), Some(Seq(0L, 2L, Long.MaxValue))), // disjoint
      (Some(Seq(-1L)), Some(Seq(1L))), // disjoint by sign only
      (None, Some(x)), (Some(x), None), (None, None), (None, Some(Nil)))
    narrow ++ wide ++ edges
  }

  // an RDD source, not a local Seq: ConvertToLocalRelation would evaluate
  // a LocalRelation projection at plan time, and the kernel would never
  // run inside generated code
  private def mismatches(): Array[(Option[Seq[Long]], Option[Seq[Long]], Option[Int], Option[Int])] =
    spark.sparkContext.parallelize(cases, 4).toDF("a", "b")
      .select($"a", $"b",
        sortedIntersectSize($"a", $"b").as("got"),
        size(array_intersect($"a", $"b")).as("want"))
      .where(!($"got" <=> $"want"))
      .as[(Option[Seq[Long]], Option[Seq[Long]], Option[Int], Option[Int])]
      .collect()

  // interpreted evaluation: no whole-stage codegen, interpreted projections
  // (the shared session sets neither key, so unset restores its value)
  private def interpreted[T](body: => T): T = {
    val conf = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally conf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("sorted_intersect_size == size(array_intersect) on sorted distinct arrays (codegen)") {
    val bad = mismatches()
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(3).toSeq}")
  }

  test("sorted_intersect_size == size(array_intersect) on sorted distinct arrays (interpreted)") {
    val bad = interpreted(mismatches())
    assert(bad.isEmpty, s"${bad.length} mismatches, first: ${bad.take(3).toSeq}")
  }

  test("NULL arrays give NULL; NULL elements count once when both sides hold one") {
    val rows = spark.sparkContext.parallelize(Seq[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])](
      (Some(Seq(None, Some(-2L), Some(5L), Some(9L))), Some(Seq(Some(-2L), Some(9L), None))),
      (Some(Seq(Some(-2L), None)), Some(Seq(Some(-2L), Some(4L)))),
      (Some(Seq(None)), Some(Seq(None))),
      (None, Some(Seq(Some(1L))))), 2).toDF("a", "b")
      .select(sortedIntersectSize($"a", $"b").as("got"),
        size(array_intersect($"a", $"b")).as("want"))
      .as[(Option[Int], Option[Int])].collect()
    assert(rows.toSeq == Seq((Some(3), Some(3)), (Some(1), Some(1)), (Some(1), Some(1)),
      (None, None)), rows.toSeq)
  }
}
