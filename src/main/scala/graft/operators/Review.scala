package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cluster review (SURVEY.md §2.9 Q9), reference
  * `event_dedup/api/routes/review.py:63-80`.
  */
object Review {

  /** Q9 review queue (api/routes/review.py:63-80): flagged-or-uncertain
    * clusters ordered by ascending confidence, paginated.
    */
  def reviewQueue(
      clusters: DataFrame, // (component, size, flagged, match_confidence)
      page: Int, pageSize: Int
  ): DataFrame = {
    // fail at the API boundary, not as an "offset must be >= 0"
    // AnalysisException deep inside plan analysis (pages are 1-based)
    require(page >= 1 && pageSize >= 1,
      s"reviewQueue: page must be >= 1 and pageSize >= 1, got page=$page pageSize=$pageSize")
    clusters.where(col("flagged") ||
        (col("match_confidence") < 0.8 && col("size") > 1))
      .orderBy(col("match_confidence").asc_nulls_first, col("component"))
      .offset((page - 1) * pageSize).limit(pageSize)
  }
}
