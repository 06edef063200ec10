package graft.operators

import graft.SparkSpec
import graft.config.GraftConfig
import org.apache.spark.sql.functions._

/** Tier-2 semantics of [[Decisions.resolveAmbiguous]] on a hand-built
  * tier-1 frame: every ambiguous row resolves on its nodes' extracted text,
  * settled rows pass through, and duplicated rows stay duplicated.
  */
class DecisionsSpec extends SparkSpec {
  import spark.implicits._

  private def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")

  test("resolveAmbiguous: one (decision, tier) per tier-1 row, by exact text, then overlap") {
    val shared = words("shared", 50) // 400+ chars, over the 256-char bar
    val (x, y) = (words("ex", 20), words("why", 20))
    // (node, extracted_text); node 7 is a url at two text versions, nodes
    // 10 and 11 failed extraction, nodes 12 and 13 have no text row
    val texts = Seq[(Long, String)](
      1L -> "identical body text", 2L -> "identical body text",
      3L -> s"${words("left", 10)} $shared ${words("lt", 5)}",
      4L -> s"${words("right", 12)} $shared",
      5L -> words("five", 30), 6L -> words("six", 30),
      7L -> x, 7L -> y, 8L -> x, 9L -> y,
      10L -> null, 11L -> null,
      20L -> "settled", 21L -> "settled")
      .toDF("node", "extracted_text")
    def row(a: Long, b: Long, decision: String) =
      (a, b, s"u$a", s"u$b", 0.6, decision, "jaccard")
    val tier1 = Seq(
      row(1, 2, "ambiguous"), row(1, 2, "ambiguous"), // duplicated tier-1 row
      row(3, 4, "ambiguous"), row(5, 6, "ambiguous"),
      row(7, 8, "ambiguous"), row(7, 9, "ambiguous"),
      row(10, 11, "ambiguous"), row(12, 13, "ambiguous"),
      (20L, 21L, "u20", "u21", 0.95, "match", "jaccard"),
      (5L, 20L, "u5", "u20", 0.1, "no_match", "jaccard"))
      .toDF("node_a", "node_b", "url_a", "url_b", "exact_jaccard", "decision", "tier")

    val out = Decisions.resolveAmbiguous(tier1, texts, GraftConfig.default)
      .as[(Long, Long, String, String, Double, String, String)].collect().toSeq
    assert(out.map(r => (r._1, r._2)).sorted == tier1.as[(Long, Long, String, String, Double, String, String)]
      .collect().toSeq.map(r => (r._1, r._2)).sorted, "one output row per tier-1 row")
    def verdicts(a: Long, b: Long) = out.filter(r => r._1 == a && r._2 == b).map(r => (r._6, r._7))

    assert(verdicts(1, 2) == Seq(("match", "exact_text"), ("match", "exact_text")))
    assert(verdicts(3, 4) == Seq(("overlap_match", "overlap")))
    assert(verdicts(5, 6) == Seq(("no_match", "jaccard")))
    // node 7 reads as its min-hash version: exactly the pair holding that
    // version is an exact-text match
    val Array(hx, hy) = Seq(x, y).toDF("t").select(xxhash64($"t")).as[Long].collect()
    val (same, other) = if (hx < hy) (8L, 9L) else (9L, 8L)
    assert(verdicts(7, same) == Seq(("match", "exact_text")))
    assert(verdicts(7, other) == Seq(("no_match", "jaccard")))
    // a NULL text has no hash: two failed extractions are not identical
    assert(verdicts(10, 11) == Seq(("no_match", "jaccard")))
    assert(verdicts(12, 13) == Seq(("no_match", "jaccard")))
    // settled rows keep every column
    assert(out.filter(_._1 == 20L) == Seq((20L, 21L, "u20", "u21", 0.95, "match", "jaccard")))
    assert(out.filter(r => r._1 == 5L && r._2 == 20L) ==
      Seq((5L, 20L, "u5", "u20", 0.1, "no_match", "jaccard")))
  }
}
