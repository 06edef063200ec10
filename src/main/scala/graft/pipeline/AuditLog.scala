package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Append-only audit-log table for review operations (reference
  * `/root/reference/src/event_dedup/models/audit_log.py`, written by every
  * split/merge at `review/operations.py:201-208,321-331`).
  *
  * [[graft.operators.Review.splitNode]]/`mergeClusters` return audit frames;
  * this sink persists them. Rows are only ever APPENDED (mode append on a
  * parquet dir — the Iceberg-`append` seam, like [[Checkpoints]]); nothing
  * here can overwrite history. `run_id` is caller-supplied (determinism
  * policy §7.5: no wall-clock stamps inside jobs) and `seq` orders actions
  * within a run.
  */
final class AuditLog(spark: SparkSession, path: String) {

  // seq continues from the stored max PER run_id: a later session resuming
  // the same run must not reuse seq values (duplicate (run_id, seq) pairs
  // would make the within-run order unrecoverable). Appends are serialized
  // per instance (see append); concurrent appenders from SEPARATE
  // instances/processes to one path still race — single writing process
  // per log assumed (the Iceberg seam lifts that with snapshot commits).
  private val seqs = scala.collection.mutable.HashMap.empty[String, Long]

  /** Append one audit action. The frame's own columns are folded into a
    * details JSON string so heterogeneous actions (split vs merge) share one
    * table schema: (run_id, seq, action, details).
    */
  def append(audit: DataFrame, runId: String): Unit = seqs.synchronized {
    // the WHOLE append is serialized per instance, not just the map:
    // concurrent parquet append jobs to one path share the committer's
    // _temporary staging dir, so a parallel commit can silently drop the
    // other job's files — cross-run concurrency through one AuditLog is
    // not supportable at the parquet layer (the Iceberg seam is, via
    // snapshot commits). Audit frames are tiny review actions; holding
    // the lock across the write costs nothing real.
    val seq = seqs.getOrElseUpdate(runId,
      history().where(col("run_id") === runId)
        .agg(coalesce(max(col("seq")) + 1L, lit(0L))).collect()(0).getLong(0))
    val detailCols = audit.columns.filterNot(_ == "action")
    // seq is stamped PER ROW (and advanced by the row count): nothing
    // enforces a one-row frame, and stamping a batched multi-action frame
    // with one lit(seq) would mint duplicate (run_id, seq) pairs — exactly
    // the unrecoverable within-run order the class doc forbids. Row order
    // inside one batched frame is (action, details) — an unordered
    // DataFrame carries no intent to recover, so the stable choice is what
    // matters. The frame is materialized ON THE DRIVER exactly once (audit
    // frames are tiny review actions): the previous count-job + write-job
    // pair evaluated the input twice, so a nondeterministic input frame
    // could write a different number of rows than it counted and
    // desynchronize the (run_id, seq) allocation. Ordering uses UTF-8
    // binary comparison — the same total order the previous global window
    // produced in Spark, nulls first as in its ascending sort.
    val collected = audit.select(col("action"),
        to_json(struct(detailCols.map(col): _*)).as("details"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    def u8(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)
    def cmp(a: String, b: String): Int =
      if (a == null || b == null) java.lang.Boolean.compare(b == null, a == null)
      else u8(a).compareTo(u8(b))
    val ordered = collected.sortWith { (a, b) =>
      val c = cmp(a._1, b._1)
      if (c != 0) c < 0 else cmp(a._2, b._2) < 0
    }
    val stamped = ordered.zipWithIndex.map { case ((a, d), i) => (runId, seq + i, a, d) }
    import spark.implicits._
    stamped.toSeq.toDF("run_id", "seq", "action", "details")
      .write.mode("append").parquet(path)
    seqs(runId) = seq + ordered.length
  }

  /** The full audit history (empty frame with the right schema if nothing
    * has been appended yet). Existence check goes through the Hadoop FS API
    * so `path` may be file:, hdfs:// or s3a:// (round-2 verdict seam fix).
    */
  def history(): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.parquet(path)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("run_id", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("details", org.apache.spark.sql.types.StringType))))
  }
}
