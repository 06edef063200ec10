package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Single-pass evaluation harness: reference confusion arithmetic
  * (`evaluation/metrics.py:35-83`; P=0.5/R=1.0/F1=0.667 case from
  * `.planning/phases/01/01-03-SUMMARY.md:106`) plus plan audits that the
  * round-1 multi-action shape is gone: ONE aggregate, no per-threshold jobs.
  * `Evaluation` is the test-side oracle of q12's inlined confusion
  * arithmetic; the last test holds q12 to it.
  */
class EvaluationSpec extends SparkSpec {
  import spark.implicits._

  private def truth = Seq(
    ("a", "b", "same"), ("c", "d", "same"),
    ("e", "f", "different"), ("g", "h", "different")
  ).toDF("url_a", "url_b", "label")

  test("pairMetrics: reference confusion case P=0.5 R=1.0 F1=2/3") {
    // predict both sames plus both differents' worth? predict: a-b, c-d, e-f, g-h
    val pred = Seq(("a", "b"), ("c", "d"), ("e", "f"), ("g", "h")).toDF("url_a", "url_b")
    val m = Evaluation.pairMetrics(pred, truth).collect()(0)
    assert(m.getAs[Long]("tp") == 2 && m.getAs[Long]("fp") == 2)
    assert(m.getAs[Long]("fn") == 0 && m.getAs[Long]("tn") == 0)
    assert(m.getAs[Double]("precision") == 0.5 && m.getAs[Double]("recall") == 1.0)
    assert(math.abs(m.getAs[Double]("f1") - 2.0 / 3.0) < 1e-12)
  }

  test("duplicate and both-orientation truth rows count each pair once; conflicts resolve conservatively") {
    // (a,b) recorded in both orientations, (c,d) duplicated, (e,f) labeled
    // BOTH ways — without truth canonicalization tp would read 2, the dup
    // would double-count, and (e,f) would be tp AND fp simultaneously
    val messy = Seq(
      ("a", "b", "same"), ("b", "a", "same"),
      ("c", "d", "same"), ("c", "d", "same"),
      ("e", "f", "same"), ("f", "e", "different")
    ).toDF("url_a", "url_b", "label")
    val pred = Seq(("a", "b"), ("c", "d"), ("e", "f")).toDF("url_a", "url_b")
    val m = Evaluation.pairMetrics(pred, messy).collect()(0)
    // (e,f) resolves to min(label) = "different" → fp, not tp
    assert(m.getAs[Long]("tp") == 2 && m.getAs[Long]("fp") == 1)
    assert(m.getAs[Long]("fn") == 0 && m.getAs[Long]("tn") == 0)
    val sw = Evaluation.thresholdSweep(
      Seq(("a", "b", 0.9), ("c", "d", 0.9), ("e", "f", 0.9)).toDF("url_a", "url_b", "score"),
      messy, thresholds = Seq(0.5)).collect()(0)
    assert(sw.getAs[Long]("tp") == 2 && sw.getAs[Long]("fp") == 1 && sw.getAs[Long]("fn") == 0)
  }

  test("pairMetrics: unlabeled predictions ignored, unpredicted sames are FN") {
    val pred = Seq(("a", "b"), ("x", "y")).toDF("url_a", "url_b") // x-y unlabeled
    val m = Evaluation.pairMetrics(pred, truth).collect()(0)
    assert(m.getAs[Long]("tp") == 1 && m.getAs[Long]("fp") == 0)
    assert(m.getAs[Long]("fn") == 1 && m.getAs[Long]("tn") == 2)
  }

  test("pairMetrics: pair orientation is normalized before the join (metrics.py parity)") {
    // a correct prediction stored flipped must still count as TP, not FN
    val pred = Seq(("b", "a"), ("d", "c")).toDF("url_a", "url_b")
    val m = Evaluation.pairMetrics(pred, truth).collect()(0)
    assert(m.getAs[Long]("tp") == 2 && m.getAs[Long]("fn") == 0)
    // and a flipped truth row joins a canonical prediction
    val flippedTruth = Seq(("b", "a", "same")).toDF("url_a", "url_b", "label")
    val m2 = Evaluation.pairMetrics(Seq(("a", "b")).toDF("url_a", "url_b"), flippedTruth).collect()(0)
    assert(m2.getAs[Long]("tp") == 1)
  }

  test("thresholdSweep: one pass matches per-threshold recomputation") {
    val scored = Seq(
      ("a", "b", 0.9), ("c", "d", 0.6), ("e", "f", 0.8), ("g", "h", 0.2)
    ).toDF("url_a", "url_b", "score")
    val sweep = Evaluation.thresholdSweep(scored, truth, Seq(0.5, 0.75, 0.95))
      .collect().map(r => r.getAs[Double]("threshold") ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")))).toMap
    // t=0.5: pred {ab,cd,ef} → tp=2 fp=1 fn=0
    assert(sweep(0.5) == ((2L, 1L, 0L)))
    // t=0.75: pred {ab,ef} → tp=1 fp=1 fn=1
    assert(sweep(0.75) == ((1L, 1L, 1L)))
    // t=0.95: pred {} → tp=0 fp=0 fn=2
    assert(sweep(0.95) == ((0L, 0L, 2L)))
  }

  test("thresholdSweep: multi-tier duplicate scored rows don't inflate counts") {
    // a-b scored TWICE (e.g. by two tiers): counts must equal the
    // deduped-pair sweep (max score wins), matching pairMetrics' distinct()
    val scored = Seq(
      ("a", "b", 0.9), ("a", "b", 0.6), // duplicate pair, different tiers
      ("c", "d", 0.6), ("e", "f", 0.8), ("g", "h", 0.2)
    ).toDF("url_a", "url_b", "score")
    val sweep = Evaluation.thresholdSweep(scored, truth, Seq(0.5, 0.75))
      .collect().map(r => r.getAs[Double]("threshold") ->
        ((r.getAs[Long]("tp"), r.getAs[Long]("fp"), r.getAs[Long]("fn")))).toMap
    assert(sweep(0.5) == ((2L, 1L, 0L))) // NOT tp=3 (the round-2 inflation)
    assert(sweep(0.75) == ((1L, 1L, 1L))) // max(0.9, 0.6) ≥ 0.75 → ab predicted
  }

  test("plan audit: sweep is ONE aggregation over a broadcast grid — no driver loop") {
    val scored = Seq(("a", "b", 0.9)).toDF("url_a", "url_b", "score")
    val plan = Evaluation.thresholdSweep(scored, truth)
      .queryExecution.optimizedPlan.toString
    // exactly three Aggregate nodes: truth canonicalization (one row per
    // labeled pair — duplicate/conflicting truth must not double-count),
    // the per-pair max-score dedup (matching pairMetrics' distinct
    // semantics) and the grouped conditional counts; the 8-threshold grid
    // shows up as a join/expand input, never as 8 plans
    val aggs = "(?m)^\\s*[+:\\-\\s]*Aggregate ".r.findAllIn(plan).size
    assert(aggs == 3, s"expected 3 Aggregates (truth-dedup + pair-dedup + confusion), got $aggs:\n$plan")
  }

  test("pairMetrics: null-keyed pairs never match (no degenerate least/greatest collapse)") {
    // least/greatest skip nulls, so (null, u2) and (u2, null) would BOTH
    // canonicalize to (u2, u2) and spuriously equi-join as a TP; null keys
    // must stay unjoinable (dirty extraction output is where they occur)
    val nullTruth = Seq((Option.empty[String], Some("u2"), "same"),
      (Some("a"), Some("b"), "same")).toDF("url_a", "url_b", "label")
    val pred = Seq((Some("u2"), Option.empty[String]), (Some("b"), Some("a")))
      .toDF("url_a", "url_b")
    val m = Evaluation.pairMetrics(pred, nullTruth).collect()(0)
    assert(m.getAs[Long]("tp") == 1, "only (a,b) may match")
    assert(m.getAs[Long]("fn") == 1, "the null-keyed truth pair must stay unmatched")
  }

  test("plan audit: pairMetrics is one aggregate, one action") {
    val pred = Seq(("a", "b")).toDF("url_a", "url_b")
    val df = Evaluation.pairMetrics(pred, truth)
    val aggs = "(?m)Aggregate ".r.findAllIn(df.queryExecution.optimizedPlan.toString).size
    // one global aggregate + (possibly) one for the distinct() on pred
    assert(aggs <= 2, df.queryExecution.optimizedPlan.toString)
    assert(df.count() == 1)
  }

  test("q12's inlined confusion arithmetic equals pairMetrics over the same pair set") {
    val dir = java.nio.file.Files.createTempDirectory("graft-eval-q12").toString
    // doc 250 sits past q12's doc_id < 200 cut and must not count
    val docs = Seq((1L, 100, "en"), (2L, 101, "en"), (3L, 104, "en"), (4L, 102, "de"),
      (5L, 120, "de"), (6L, 121, "de"), (7L, 107, "en"), (250L, 100, "en"))
      .toDF("doc_id", "n_chars", "lang")
    docs.write.parquet(s"$dir/documents.parquet")
    val got = SparkEntry.queries("q12_prf_metrics")(spark, dir).collect()(0)
    // q12's prediction (|Δn_chars| ≤ 2) and truth (same lang ∧ |Δn_chars| ≤ 5)
    // as the pair frames pairMetrics takes
    val d = docs.where($"doc_id" < 200)
    val pairs = d.toDF("url_a", "nc_a", "lang_a")
      .join(d.toDF("url_b", "nc_b", "lang_b"), $"url_a" < $"url_b")
    val truth = pairs.select($"url_a", $"url_b",
      when($"lang_a" === $"lang_b" && abs($"nc_a" - $"nc_b") <= 5, "same")
        .otherwise("different").as("label"))
    val pred = pairs.where(abs($"nc_a" - $"nc_b") <= 2).select("url_a", "url_b")
    val want = Evaluation.pairMetrics(pred, truth).collect()(0)
    // the fixture fills every cell: tp {1-2, 5-6}, fp {1-4, 2-4, 3-4}, fn {1-3, 2-3, 3-7}
    assert((want.getAs[Long]("tp"), want.getAs[Long]("fp"), want.getAs[Long]("fn")) == ((2L, 3L, 3L)))
    Seq("tp", "fp", "fn").foreach(c => assert(got.getAs[Long](c) == want.getAs[Long](c), c))
    Seq("precision", "recall").foreach(c =>
      assert(math.abs(got.getAs[Double](c) - want.getAs[Double](c)) < 1e-6, c))
  }
}
