package graft.pipeline

import graft.SparkSpec
import graft.operators.Review
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Audit-log persistence (reference `models/audit_log.py`, written by every
  * review op at `review/operations.py:201-208,321-331`): rows from split and
  * merge are APPENDED — two ops → two rows, history never overwritten.
  */
class AuditLogSpec extends SparkSpec {
  import spark.implicits._

  test("split + merge audits append across ops; history is cumulative") {
    val dir = Files.createTempDirectory("graft_audit").toString + "/audit"
    val log = new AuditLog(spark, dir)

    val labels = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)).toDF("node", "component")
    val edges = Seq((1L, 2L, 0.9), (10L, 11L, 0.95)).toDF("src", "dst", "weight")

    val (labels2, edges2, auditSplit) = Review.splitNode(labels, edges, 2L)
    log.append(auditSplit, runId = "run-1")
    assert(log.history().count() == 1)

    val (_, _, auditMerge) = Review.mergeClusters(labels2, edges2.drop("tier"), 1L, 10L)
    log.append(auditMerge, runId = "run-1")

    val hist = log.history().orderBy("seq")
      .select("run_id", "seq", "action").as[(String, Long, String)].collect()
    assert(hist.length == 2, s"append-only: expected 2 rows, got ${hist.length}")
    assert(hist(0) == (("run-1", 0L, "split")))
    assert(hist(1) == (("run-1", 1L, "merge")))
    // details JSON carries the op-specific columns
    val details = log.history().where($"action" === "merge")
      .select("details").as[String].collect()(0)
    assert(details.contains("\"component_a\"") && details.contains("\"target\""))
  }

  test("empty history has the declared schema") {
    val log = new AuditLog(spark, Files.createTempDirectory("graft_audit2").toString + "/none")
    assert(log.history().columns.toSeq == Seq("run_id", "seq", "action", "details"))
    assert(log.history().count() == 0)
  }

  test("a new instance resuming the same run_id continues seq instead of reusing it") {
    val dir = Files.createTempDirectory("graft_audit_resume").toString + "/audit"
    val log1 = new AuditLog(spark, dir)
    val audit = Seq(("split", 2L)).toDF("action", "node")
    log1.append(audit, runId = "run-9")
    log1.append(audit, runId = "run-9")

    val log2 = new AuditLog(spark, dir) // fresh session/instance, same run
    log2.append(audit, runId = "run-9")
    val rows = log2.history().select("run_id", "seq")
      .as[(String, Long)].collect().toSeq
    assert(rows.map(_._2).sorted == Seq(0L, 1L, 2L), s"seq must continue: $rows")
    assert(rows.distinct.length == rows.length, "duplicate (run_id, seq) pair")
  }

  test("a null action sorts first, as Spark's ascending sort does, and seq order is stable") {
    val log = new AuditLog(spark, Files.createTempDirectory("graft_audit_null").toString + "/audit")
    val audit = Seq[(String, Long)](("split", 2L), (null, 3L), ("merge", 1L)).toDF("action", "node")
    log.append(audit, runId = "run-n")
    log.append(audit.orderBy($"node".desc), runId = "run-n") // same rows, other order
    val hist = log.history().orderBy("seq").select("seq", "action").as[(Long, String)].collect()
    assert(hist.map(_._1).toSeq == (0L until 6L))
    val once = audit.orderBy($"action".asc).select("action").as[String].collect().toSeq
    assert(once == Seq(null, "merge", "split"))
    assert(hist.map(_._2).toSeq == once ++ once)
  }
}
