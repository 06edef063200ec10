package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.Internals

/** Spark work attributed to one job group (one span), or to the whole run. */
final class Counters {
  var jobs = 0
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)] // (start ms, end ms)
  val executions = mutable.ArrayBuffer.empty[QueryExecution]
}

/** Sums executor task metrics, job counts and job intervals per job group
  * (the tracer sets one group per span) and in total; tracks the bytes of
  * persisted RDD blocks (memory plus disk) and their peak.
  */
final class BenchListener extends SparkListener {
  val total = new Counters
  private val groups = mutable.HashMap.empty[String, Counters]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, (String, Long)]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val blocks = mutable.HashMap.empty[org.apache.spark.storage.RDDBlockId, Long]
  private var fromRdd = 0
  private var storageNow = 0L
  private var storagePeak = 0L

  /** (jobs, executor CPU ns, shuffle bytes written) so far, whole run. */
  def totals: (Int, Long, Long) = synchronized((total.jobs, total.cpuNs, total.shuffleWrite))

  def group(id: String): Counters = synchronized(groups.getOrElseUpdate(id, new Counters))

  /** Track the persisted bytes of RDDs with id ≥ `rddId` only (RDDs made
    * from now on), from zero: a previous call's blocks may be released
    * asynchronously, or only when the cleaner gets to them.
    */
  def resetPeak(rddId: Int): Unit = synchronized {
    fromRdd = rddId
    storageNow = blocks.collect { case (b, n) if b.rddId >= rddId => n }.sum
    storagePeak = storageNow
  }
  def peakStorage: Long = synchronized(storagePeak)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { g =>
        val c = group(g)
        c.jobs += 1
        jobGroup(e.jobId) = (g, e.time)
        e.stageIds.foreach(stageGroup(_) = g)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { case (g, start) => group(g).jobSpans += ((start, e.time)) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val targets = Seq(total) ++ stageGroup.get(e.stageId).map(group)
      targets.foreach { c =>
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: org.apache.spark.storage.RDDBlockId =>
        val bytes = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        val before = blocks.getOrElse(b, 0L)
        if (bytes == 0L) blocks.remove(b) else blocks(b) = bytes
        if (b.rddId >= fromRdd) {
          storageNow += bytes - before
          storagePeak = math.max(storagePeak, storageNow)
        }
      case _ => ()
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized(s.jobGroupId.foreach(execGroup(s.executionId) = _))
    case end: SparkListenerSQLExecutionEnd =>
      synchronized {
        for (g <- execGroup.remove(end.executionId); qe <- Internals.queryExecution(end))
          group(g).executions += qe
      }
    case _ => ()
  }
}

/** One timed call into the program. `trace` is the workload iteration the
  * call belongs to; `parent` is the enclosing span, if any.
  */
final case class Span(id: String, name: String, trace: String, parent: Option[String],
    startMs: Long, startNs: Long) {
  var wallNs = 0L
  val values = mutable.LinkedHashMap.empty[String, Double]
  def wallS: Double = wallNs / 1e9
}

/** Keeps spans in memory; each span runs under its own job group so the
  * listener can attribute jobs, tasks and SQL executions to it.
  */
final class Tracer(sc: SparkContext, listener: BenchListener) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  def span[T](name: String, trace: String)(body: => T): T = {
    val s = Span(s"$trace/$name#${spans.size}", name, trace, open.headOption.map(_.id),
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(s.id, name, interruptOnCancel = false)
    try body
    finally {
      Internals.drain(sc)
      s.wallNs = System.nanoTime() - s.startNs
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
      record(s)
    }
  }

  /** Plans the span built or materialized but did not run as SQL (a
    * persisted stage forced through its RDD) add their Exchanges here.
    */
  def addPlanExchanges(s: Span, plan: org.apache.spark.sql.execution.SparkPlan): Unit =
    s.values("exchanges") = s.values.getOrElse("exchanges", 0.0) +
      Internals.exchanges(plan, seenCaches)

  def last(name: String): Span = spans.findLast(_.name == name).get

  private def record(s: Span): Unit = {
    val c = listener.group(s.id)
    val endMs = s.startMs + s.wallNs / 1000000L
    s.values("wall_s") = s.wallS
    s.values("cpu_s") = c.cpuNs / 1e9
    s.values("driver_s") = math.max(0.0, s.wallS - busyMs(c.jobSpans.toSeq, s.startMs, endMs) / 1e3)
    s.values("jobs") = c.jobs
    s.values("shuffle_write_mb") = c.shuffleWrite / 1e6
    s.values("shuffle_read_mb") = c.shuffleRead / 1e6
    s.values("spill_mb") = c.spill / 1e6
    s.values("exchanges") = c.executions.map(qe => Internals.exchanges(qe.executedPlan, seenCaches)).sum
  }

  /** Length of the union of job intervals, clipped to the span. */
  private def busyMs(jobs: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var busy = 0L
    var reach = from
    jobs.map { case (a, b) => (math.max(a, from), math.min(b, to)) }.sortBy(_._1).foreach {
      case (a, b) =>
        val start = math.max(a, reach)
        if (b > start) { busy += b - start; reach = b }
    }
    busy
  }

  /** Span JSON: one object per span with its times, self time (span time
    * minus child-span time) and counters.
    */
  def json: String = spans.map { s =>
    val childNs = spans.filter(_.parent.contains(s.id)).map(_.wallNs).sum
    val vals = s.values.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${Json.str(s.id)},"name":${Json.str(s.name)},"trace":${Json.str(s.trace)},""" +
      s""""parent":${s.parent.map(Json.str).getOrElse("null")},"start_ms":${s.startMs},""" +
      s""""self_s":${Json.num((s.wallNs - childNs) / 1e9)},$vals}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
}
