package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ground-truth labeling queue — the data semantics of the reference's
  * interactive labeling CLI (`event_dedup/ground_truth/labeling_tool.py`),
  * re-expressed as a set operation. The reference loops candidate pairs,
  * skips pairs already present in the ground-truth table
  * (labeling_tool.py:105-114) and pre-suggests "same" when
  * `title_sim >= auto_threshold` (:131-135). The terminal rendering itself
  * is interactive I/O, not engine behavior; what the engine owns is queue
  * construction.
  */
object Labeling {

  /** Pairs still awaiting a label: candidates anti-joined against the
    * ground-truth table on the canonical (id_a, id_b) key
    * (labeling_tool.py:105-114), with the pre-suggestion flag
    * (`title_sim >= autoThreshold`, :131-135) the CLI uses to default the
    * prompt to "same". Column set beyond the keys/title_sim rides through
    * unchanged — callers project the side-by-side display fields they need.
    */
  def queue(candidates: DataFrame, groundTruth: DataFrame,
      autoThreshold: Double = 0.85): DataFrame =
    candidates
      .join(groundTruth.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_anti")
      // coalesce: a null title_sim must read as NOT-suggested, not as a
      // silent third state that `=== false` filters would drop entirely
      // (the reference only pre-suggests on a real title_sim, :131-135)
      .withColumn("suggested",
        coalesce(col("title_sim") >= autoThreshold, lit(false)))
}
