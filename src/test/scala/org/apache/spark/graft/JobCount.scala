package org.apache.spark.graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Runs a block under a fresh job group with a listener built for that
  * group. It lives in an `org.apache.spark` package to drain the listener
  * bus, so the listener has seen every event of the block when it returns;
  * matching by job group keeps other threads' work out.
  */
private object GroupListener {
  def apply[T](sc: SparkContext, listener: String => SparkListener)(body: => T): T = {
    val group = s"graft-test-${java.util.UUID.randomUUID}"
    val l = listener(group)
    sc.addSparkListener(l)
    sc.setJobGroup(group, "graft test")
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      result
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }
}

/** Counts the Spark jobs a block launches from the calling thread. */
object JobCount {
  def apply[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val result = GroupListener(sc, group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          jobs.incrementAndGet(): Unit
    })(body)
    (result, jobs.get)
  }
}

/** Sums the shuffle bytes that the tasks of a block's jobs write, and counts
  * the RDD blocks stored while the block runs. Block updates carry no job
  * group, so the block count takes in every RDD block stored meanwhile.
  */
object ShuffleAndBlocks {
  def apply[T](sc: SparkContext)(body: => T): (T, Long, Int) = {
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong
    val blocks = new AtomicInteger
    val result = GroupListener(sc, group => new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          e.stageIds.foreach(stages.add)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten): Unit
      override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
        if (e.blockUpdatedInfo.blockId.isRDD && e.blockUpdatedInfo.storageLevel.isValid)
          blocks.incrementAndGet(): Unit
    })(body)
    (result, bytes.get, blocks.get)
  }
}

/** Counts the characters of physical-plan description that the SQL
  * executions a block starts from the calling thread post: one
  * description per execution start and one per AQE plan update.
  */
object PlanText {
  def apply[T](sc: SparkContext)(body: => T): (T, Long) = {
    val chars = new AtomicLong
    val executions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val result = GroupListener(sc, group => new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          executions.add(s.executionId)
          chars.addAndGet(s.physicalPlanDescription.length): Unit
        case u: SparkListenerSQLAdaptiveExecutionUpdate if executions.contains(u.executionId) =>
          chars.addAndGet(u.physicalPlanDescription.length): Unit
        case _ => ()
      }
    })(body)
    (result, chars.get)
  }
}
