package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Package-private program entry the benchmark needs: the input
  * fingerprint `RunDedup.run` folds into its checkpoint key, so a traced
  * pipeline writes checkpoints that `RunDedup.run` then resumes from.
  */
object Access {
  def inputFingerprint(spark: SparkSession, spec: String, df: DataFrame): String =
    graft.RunDedup.inputFingerprint(spark, spec, df)
}
