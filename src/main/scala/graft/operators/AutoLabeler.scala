package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.FuzzKernels

/** Ground-truth auto-labeling: the reference's conservative cascade
  * (SURVEY.md §2.9 Q18; reference
  * `event_dedup/ground_truth/auto_labeler.py:83-182`).
  *
  * Rules (ordered, intentionally stricter than the matcher):
  *   same/high:    title_sim ≥ 0.90 ∧ same_city
  *   same/medium:  title_sim ≥ 0.70 ∧ same_city ∧ desc_sim ≥ 0.80
  *   diff/high:    title_sim < 0.40
  *   diff/high:    different_city ∧ title_sim < 0.70
  *   else          skip (ambiguous)
  * where same_city / different_city require BOTH cities non-empty
  * (auto_labeler.py:68-80), title/desc sims are rapidfuzz token_sort_ratio
  * over normalized fields ([[FuzzKernels]] is the exact-parity kernel), and
  * desc_sim is 0.0 when either side is missing (auto_labeler.py:50-57).
  */
object AutoLabeler {

  private def nonEmpty(c: Column): Column = c.isNotNull && length(c) > 0

  /** The labeling cascade over a pair frame carrying
    * (title_sim, desc_a, desc_b, city_a, city_b). Appends
    * (desc_sim, label, confidence, reason).
    */
  def label(pairs: DataFrame): DataFrame = {
    val descSim = when(!nonEmpty(col("desc_a")) || !nonEmpty(col("desc_b")), 0.0)
      .otherwise(FuzzKernels.token_sort_ratio(col("desc_a"), col("desc_b")))
    val sameCity = nonEmpty(col("city_a")) && nonEmpty(col("city_b")) &&
      col("city_a") === col("city_b")
    val diffCity = nonEmpty(col("city_a")) && nonEmpty(col("city_b")) &&
      col("city_a") =!= col("city_b")
    // ONE when-cascade producing struct(label, confidence, reason): the
    // rule and its confidence/reason must come from the same branch — three
    // parallel cascades would let a threshold tweak in one silently
    // desynchronize the other two
    def verdict(l: String, c: String, r: String) =
      struct(lit(l).as("label"),
        (if (c == null) lit(null).cast("string") else lit(c)).as("confidence"),
        (if (r == null) lit(null).cast("string") else lit(r)).as("reason"))
    pairs
      .withColumn("desc_sim", descSim)
      .withColumn("__v",
        when(col("title_sim") >= 0.90 && sameCity,
          verdict("same", "high", "title_sim>=0.90 + same_city"))
          .when(col("title_sim") >= 0.70 && sameCity && col("desc_sim") >= 0.80,
            verdict("same", "medium", "title_sim>=0.70 + same_city + desc_sim>=0.80"))
          .when(col("title_sim") < 0.40,
            verdict("different", "high", "title_sim<0.40"))
          .when(diffCity && col("title_sim") < 0.70,
            verdict("different", "high", "different_city + title_sim<0.70"))
          .otherwise(verdict("skip", null, null)))
      .withColumn("label", col("__v.label"))
      .withColumn("confidence", col("__v.confidence"))
      .withColumn("reason", col("__v.reason"))
      .drop("__v")
  }
}
