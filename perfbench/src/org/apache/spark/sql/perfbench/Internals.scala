package org.apache.spark.sql.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The few Spark internals the benchmark's tracer reads; kept in one file
  * because they need this package's access.
  */
object Internals {

  /** Block until every posted listener event has been delivered, so span
    * counters are complete when a span closes.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def queryExecution(end: SparkListenerSQLExecutionEnd): Option[QueryExecution] =
    Option(end.qe)

  /** Exchange (shuffle or broadcast) nodes in a final physical plan. Walks
    * through AQE wrappers and query stages, and into each cached relation
    * the first time `seen` meets it: a persisted stage's plan is counted in
    * the span that built it, not again in every span that reads it.
    */
  def exchanges(plan: SparkPlan, seen: java.util.Set[AnyRef]): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan, seen)
    case s: QueryStageExec => exchanges(s.plan, seen)
    case c: CommandResultExec => exchanges(c.commandPhysicalPlan, seen)
    case m: InMemoryTableScanExec =>
      if (seen.add(m.relation.cacheBuilder)) exchanges(m.relation.cachedPlan, seen) else 0
    case e: Exchange => 1 + e.children.map(exchanges(_, seen)).sum
    case p => p.children.map(exchanges(_, seen)).sum
  }
}
