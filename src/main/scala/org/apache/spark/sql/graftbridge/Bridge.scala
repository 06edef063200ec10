package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Accessor for Spark's `private[sql]` Column↔Expression conversions and
  * Dataset-from-plan factories.
  *
  * Spark 4 made `Column` node-backed and hid the classic expression bridge
  * behind `private[sql]`; placing this shim inside the `org.apache.spark.sql`
  * package tree is the standard way third-party Catalyst extensions (custom
  * expressions exposed as `Column` functions) reach it.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A persisted Dataset as a plan leaf: its plan runs as ONE SQL execution
    * that fills the cache, and the result is a `LogicalRDD` over the cached
    * RDD, carrying the filled cache's size and row count and the plan's
    * output partitioning — the construction `Dataset.localCheckpoint`
    * uses, minus the checkpoint. Plans built on the leaf no longer carry,
    * analyze or print the persisted lineage; a lost cache block still
    * recomputes through the RDD's lineage. Unpersisting the leaf releases
    * nothing: release `persisted`.
    */
  def planLeaf(persisted: DataFrame): DataFrame = {
    val ds = persisted.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val rdd = SQLExecution.withNewExecutionId(qe, Some("stage")) {
      val rdd = qe.toRdd
      // AQE fills the cache while it runs a plan with exchanges; fill the
      // rest here: AQE cannot correct a leaf's estimated size at runtime
      ds.sparkSession.sharedState.cacheManager.lookupCachedData(ds)
        .map(_.cachedRepresentation.cacheBuilder)
        .filterNot(_.isCachedColumnBuffersLoaded)
        .foreach(_.cachedColumnBuffers.foreachPartition(_ => ()))
      rdd
    }
    Dataset.ofRows(ds.sparkSession, LogicalRDD.fromDataset(rdd, ds, isStreaming = false))
  }
}
