package graft.pipeline

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.hadoop.fs.{FileSystem, Path}
import com.fasterxml.jackson.databind.JsonNode

/** Stage checkpointing with per-stage row counts
  * (north_rule: resumable mid-pipeline; SURVEY.md §7.2).
  *
  * Reference analog: the file-hash ingestion ledger
  * (`/root/reference/src/event_dedup/ingestion/file_processor.py:187-196`)
  * and the content-hash decision cache (`ai_matching/cache.py:21-57`) — both
  * make re-runs idempotent by keying persisted artifacts on input identity.
  * Here every stage table is keyed by a config hash: same input + same
  * config → the stage is read back instead of recomputed; any config change
  * invalidates exactly the stages whose semantics changed.
  *
  * Layout per stage under `workDir`:
  *   <stage>/            parquet data
  *   <stage>__meta.json  commit marker {stage, config_hash, rows, wall_ms, schema}:
  *                       deleted before the data write, written after it
  *
  * A commit is ONE Spark job (the write; `rows` rides an `Observation`);
  * read-backs use the stored schema, so no inference job runs.
  *
  * Parquet stands in for Iceberg (no Iceberg runtime jar in this sandbox —
  * SURVEY.md §7.4); the seam is this object: swap `write.parquet` for
  * `writeTo(...).overwritePartitions()` and the pipeline is unchanged.
  */
final class Checkpoints(spark: SparkSession, workDir: String, configHash: String) {

  private def dataPath(stage: String) = s"$workDir/$stage"
  private def metaPath(stage: String) = s"$workDir/${stage}__meta.json"

  // Hadoop FS, not java.nio: workDir may be file:, hdfs:// or s3a:// — the
  // meta sidecar must live next to the parquet data on whatever filesystem
  // the cluster writes (round-2 verdict: java.io breaks the seam).
  private def fs(p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private case class Meta(configHash: String, rows: Long, schema: StructType)

  /** The stage's commit record under any config key; None if the sidecar is
    * missing, unreadable or lacks a field (an older layout recomputes), or
    * if the data dir is gone (self-heals partial cleanup).
    */
  private def readMeta(stage: String): Option[Meta] = {
    val j = readJson(new Path(metaPath(stage)))
      .filter(_ => fs(workDir).exists(new Path(dataPath(stage))))
    def field(k: String) = j.flatMap(n => Option(n.get(k)))
    for (hash <- field("config_hash"); rows <- field("rows"); schema <- field("schema"))
      yield Meta(hash.asText, rows.asLong,
        DataType.fromJson(schema.toString).asInstanceOf[StructType])
  }

  private def readJson(p: Path): Option[JsonNode] =
    try {
      val in = fs(workDir).open(p)
      try Option(Checkpoints.json.readTree(in)) finally in.close()
    } catch { case _: java.io.IOException => None } // missing or unparseable

  private def writeJson(p: Path, node: JsonNode): Unit = {
    val out = fs(workDir).create(p, true)
    try out.write(node.toString.getBytes("UTF-8")) finally out.close()
  }

  private[graft] def isComplete(stage: String): Boolean = readMeta(stage).exists(_.configHash == configHash)

  /** Run `compute` unless this stage already checkpointed under the current
    * config hash; always return the stage read back FROM the checkpoint so
    * downstream lineage starts at the parquet scan (bounded plans, stable
    * partitioning), with its row count: the meta's `rows` when the stage
    * was complete, else the count the write just observed.
    */
  def stage(name: String)(compute: => DataFrame): (DataFrame, Long) = {
    val meta = readMeta(name).filter(_.configHash == configHash).getOrElse {
      val t0 = System.nanoTime()
      // Invalidate the meta sidecar BEFORE the data overwrite: the
      // overwrite deletes the previous config's files first, so a crash
      // anywhere between that delete and the meta write at the end of this
      // block would otherwise leave the OLD config's meta pointing at the
      // new config's (possibly partial) data — a later run under the old
      // config would then skip recompute and serve the wrong rows.
      fs(metaPath(name)).delete(new Path(metaPath(name)), false)
      val df = compute
      val written = Observation()
      df.observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(dataPath(name))
      val m = Meta(configHash, written.get("rows").asInstanceOf[Long], df.schema)
      writeJson(new Path(metaPath(name)), Checkpoints.json.createObjectNode()
        .put("stage", name).put("config_hash", configHash).put("rows", m.rows)
        .put("wall_ms", (System.nanoTime() - t0) / 1000000L)
        .set[JsonNode]("schema", Checkpoints.json.readTree(df.schema.json)))
      m
    }
    (spark.read.schema(meta.schema).parquet(dataPath(name)), meta.rows)
  }
}

object Checkpoints {
  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
}
