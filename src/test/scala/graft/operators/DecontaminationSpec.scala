package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DecontaminationSpec extends SparkSpec {
  import spark.implicits._

  // benchmark doc carries the 5-gram "the quick brown fox jumps" (and more)
  private val bench = Seq(
    (900L, "the quick brown fox jumps over the lazy dog")
  ).toDF("doc_id", "text")

  private val docs = Seq(
    // shares two distinct benchmark 5-grams:
    //   "quick brown fox jumps over", "brown fox jumps over the"
    (1L, "a quick brown fox jumps over the moon tonight"),
    // clean: no shared 5-gram
    (2L, "completely unrelated text about spark clusters and shuffles here"),
    // shares exactly one 5-gram ("jumps over the lazy dog")
    (3L, "it jumps over the lazy dog every single day"),
    // too short for any 5-gram
    (4L, "tiny doc")
  ).toDF("doc_id", "text")

  test("report counts distinct shared n-grams per doc") {
    val grams = Decontamination.benchmarkGrams(bench, "text", n = 5)
    val got = Decontamination.report(docs, "doc_id", "text", grams, n = 5)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 2L, 3L -> 1L))
  }

  test("clean removes exactly the contaminated docs") {
    val grams = Decontamination.benchmarkGrams(bench, "text", n = 5)
    val kept = graft.Oracles.clean(docs, "doc_id", "text", grams, n = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(2L, 4L))
    // report flags exactly the complement
    val flagged = Decontamination.report(docs, "doc_id", "text", grams, n = 5)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(flagged == Seq(1L, 3L))
  }

  test("broadcast and shuffle paths agree") {
    val grams = Decontamination.benchmarkGrams(bench, "text", n = 5)
    val a = Decontamination.report(docs, "doc_id", "text", grams, n = 5, broadcastBench = true)
      .as[(Long, Long)].collect().toSet
    val b = Decontamination.report(docs, "doc_id", "text", grams, n = 5, broadcastBench = false)
      .as[(Long, Long)].collect().toSet
    assert(a == b)
  }

  test("clean removes a contaminated row even when its id is null (null-safe anti-join)") {
    val withNull = docs.select(
      when($"doc_id" === 1L, lit(null).cast("long")).otherwise($"doc_id").as("doc_id"),
      $"text")
    val grams = Decontamination.benchmarkGrams(bench, "text", 5)
    val kept = graft.Oracles.clean(withNull, "doc_id", "text", grams, 5)
      .select("doc_id").as[Option[Long]].collect().toSet
    // doc 1 (now null-id) and doc 3 are contaminated; 2 and 4 stay
    assert(kept == Set(Some(2L), Some(4L)), s"null-id contaminated row survived: $kept")
    // report flags the null-id row too, under a null id
    val flagged = Decontamination.report(withNull, "doc_id", "text", grams, 5)
      .select("doc_id").as[Option[Long]].collect().toSet
    assert(flagged == Set(None, Some(3L)), s"report lost the null-id contaminated row: $flagged")
  }

  test("blank docs share no phantom empty-token gram at n = 1") {
    val blankBench = Seq((900L, "   ")).toDF("doc_id", "text")
    val blankDocs = Seq((1L, ""), (2L, "  \t "), (3L, "real content")).toDF("doc_id", "text")
    val grams = Decontamination.benchmarkGrams(blankBench, "text", 1)
    assert(grams.count() == 0, "a blank benchmark row must contribute no grams")
    val hits = Decontamination.report(blankDocs, "doc_id", "text", grams, 1)
    assert(hits.count() == 0, "blank docs share no actual content — none may be flagged")
  }

  test("non-space whitespace at the text boundary emits no phantom empty token") {
    // trailing \n / leading \t survive Spark's space-only trim; split keeps
    // the resulting boundary empty tokens, so without the post-split filter
    // a 4-word overlap would masquerade as a 5-gram hit via the trailing ""
    val b = Seq((900L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val grams = Decontamination.benchmarkGrams(b, "text", 5)
    val d = Seq(
      (1L, "x y beta gamma delta epsilon\n"), // 4-word overlap + trailing \n — clean
      (2L, "\talpha beta gamma delta epsilon\n"), // real 5-gram overlap — dirty
      (3L, "\t\n "), // whitespace-only "blank" doc — no grams at all
      (4L, "\n\n") // newline-only vs newline-terminated docs share nothing
    ).toDF("doc_id", "text")
    val hits = Decontamination.report(d, "doc_id", "text", grams, 5)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(2L -> 1L), s"phantom-token contamination: $hits")
    // at n=1: docs 3/4 contribute nothing, docs 1/2 exactly their distinct
    // real tokens (6 + 5) — no empty-string token hash anywhere
    val n1 = d.select(explode(Decontamination.ngramHashes(col("text"), 1)).as("g"))
    assert(n1.count() == 11, s"n=1 grams must be the 11 real tokens, got ${n1.count()}")
  }

  test("a doc is never contaminated by n-grams it merely repeats internally") {
    // doc repeats its own phrase; benchmark shares nothing
    val selfRep = Seq((7L, "repeat me now repeat me now repeat me now again ok")).toDF("doc_id", "text")
    val grams = Decontamination.benchmarkGrams(bench, "text", n = 5)
    assert(Decontamination.report(selfRep, "doc_id", "text", grams, n = 5).count() == 0)
  }
}
