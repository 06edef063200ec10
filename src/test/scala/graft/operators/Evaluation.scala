package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference P/R/F1 harness (SURVEY.md §2.9 Q15-Q17; reference
  * `event_dedup/evaluation/metrics.py:35-83` and
  * `evaluation/harness.py:192-230`), kept test-side as the oracle of the
  * confusion arithmetic that q12 (Q17) and q38 (Q16) inline: no entry point
  * calls it, `EvaluationSpec` checks it against the reference's cases and
  * q12 against it.
  *
  * Both functions are SINGLE-PASS over the pair sets (round-1 verdict
  * item: the set-op-join form ran 4 driver actions per call and a serial
  * per-threshold loop — 32 scans of the pair data for one sweep). The
  * confusion matrix is one left join truth→predictions plus one conditional
  * aggregation; the sweep broadcasts the threshold list so every threshold
  * is counted in the SAME aggregation — one shuffle join + one agg total,
  * whatever the grid size.
  */
object Evaluation {

  /** Precision/recall/F1 of predicted pairs vs labeled truth pairs.
    * `truth` carries label ∈ {same, different}; unlabeled predicted pairs
    * are ignored (reference semantics: metrics only over labeled pairs), so
    * the left join FROM truth covers every confusion cell:
    * TP = same∧predicted, FP = different∧predicted, FN = same∧¬predicted,
    * TN = different∧¬predicted.
    */
  /** Reference parity (metrics.py:35-83): pairs are UNORDERED — both sides
    * normalize to (min, max) orientation before the equi-join, so a
    * prediction stored as (b, a) still matches truth (a, b) instead of
    * silently counting as a false negative. 2-key form only; callers with
    * custom keys own their orientation.
    */
  private def canonPairs(df: DataFrame, keys: Seq[String]): DataFrame =
    if (keys.length != 2) df
    else {
      val (ka, kb) = (keys.head, keys(1))
      // least/greatest SKIP nulls: a pair with one null key would collapse
      // to a degenerate (x, x) and spuriously equi-join the other side's
      // null-keyed garbage as a true positive. Null-keyed rows keep their
      // original columns instead — null never equi-joins, so they count
      // unmatched exactly as before canonicalization existed.
      val anyNull = col(ka).isNull || col(kb).isNull
      df.withColumn("__ka", when(anyNull, col(ka)).otherwise(least(col(ka), col(kb))))
        .withColumn("__kb", when(anyNull, col(kb)).otherwise(greatest(col(ka), col(kb))))
        .drop(ka, kb)
        .withColumnRenamed("__ka", ka)
        .withColumnRenamed("__kb", kb)
    }

  /** One truth row per canonical pair: duplicate truth rows (or the same
    * pair recorded in both orientations) would double-count every confusion
    * cell they touch, and a pair labeled BOTH same and different would
    * count as tp and fp simultaneously. min(label) resolves conflicts
    * deterministically ("different" < "same" — the conservative verdict);
    * the predicted side already gets the same one-row-per-pair treatment.
    */
  private def canonTruth(truth: DataFrame, keys: Seq[String]): DataFrame =
    canonPairs(truth, keys)
      .groupBy(keys.map(col): _*)
      .agg(min(col("label")).as("label"))

  def pairMetrics(predicted: DataFrame, truth: DataFrame,
      keys: Seq[String] = Seq("url_a", "url_b")): DataFrame = {
    val pred = canonPairs(predicted, keys).select(keys.map(col): _*).distinct()
      .withColumn("__pred", lit(true))
    canonTruth(truth, keys).join(pred, keys, "left")
      .withColumn("__pred", coalesce(col("__pred"), lit(false)))
      .agg(
        count(when(col("label") === "same" && col("__pred"), 1)).as("tp"),
        count(when(col("label") === "different" && col("__pred"), 1)).as("fp"),
        count(when(col("label") === "same" && !col("__pred"), 1)).as("fn"),
        count(when(col("label") === "different" && !col("__pred"), 1)).as("tn"))
      .transform(withPrf)
  }

  /** Append precision/recall/f1 (zero denominators → 0.0) to a frame
    * carrying tp/fp/fn counts — the ONE copy of the metric arithmetic
    * shared by [[pairMetrics]] and [[thresholdSweep]].
    */
  private def withPrf(counts: DataFrame): DataFrame =
    counts
      .withColumn("precision", when(col("tp") + col("fp") === 0, 0.0)
        .otherwise(col("tp") / (col("tp") + col("fp"))))
      .withColumn("recall", when(col("tp") + col("fn") === 0, 0.0)
        .otherwise(col("tp") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, 0.0)
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))

  /** Q15 threshold sweep over a scored-pair DataFrame: ONE job for the whole
    * grid. Truth left-joins the scores (missing score = never predicted,
    * i.e. effectively -∞), the broadcast threshold list fans each labeled
    * pair out to |grid| rows, and a single conditional aggregation counts
    * every cell per threshold. The reference caches the scored pairs and
    * re-decides per threshold (harness.py:192-230) — this is that idea with
    * the loop pushed into the plan.
    */
  def thresholdSweep(scored: DataFrame, truth: DataFrame,
      thresholds: Seq[Double] = Seq(0.5, 0.6, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95),
      keys: Seq[String] = Seq("url_a", "url_b")): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val grid = broadcast(thresholds.toDF("threshold"))
    // One row per key pair (max score wins): a pair scored by multiple tiers
    // would otherwise multiply its truth row and inflate every confusion
    // cell — pairMetrics applies the same one-row-per-pair (distinct)
    // semantics before joining.
    val sc = canonPairs(scored.select((keys.map(col) :+ col("score")): _*), keys)
      .groupBy(keys.map(col): _*)
      .agg(max(col("score")).as("score"))
    canonTruth(truth, keys).join(sc, keys, "left")
      .crossJoin(grid)
      .withColumn("__pred", col("score").isNotNull && col("score") >= col("threshold"))
      .groupBy("threshold")
      .agg(
        count(when(col("label") === "same" && col("__pred"), 1)).as("tp"),
        count(when(col("label") === "different" && col("__pred"), 1)).as("fp"),
        count(when(col("label") === "same" && !col("__pred"), 1)).as("fn"))
      .transform(withPrf)
  }
}
