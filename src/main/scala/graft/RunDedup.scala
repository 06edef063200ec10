package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.config.GraftConfig
import graft.pipeline.DedupPipeline

/** Production spark-submit entrypoint for the flagship dedup pipeline —
  * the north_rule's "runs via spark-submit on a multi-executor cluster"
  * surface. (Bench/Verify are sandbox evidence harnesses; this is the main
  * a reference user deploys.)
  *
  * Reference analog: the worker orchestration loop's per-file pipeline
  * trigger (`/root/reference/src/event_dedup/worker/orchestrator.py`
  * `process_new_file`: ingest → load → match → persist) — re-expressed as
  * ONE batch job: read pages, run
  * extract→sketch→candidates→decide→cluster→synthesize, write canonicals.
  * Scheduling/backoff live in the cluster scheduler (Airflow/cron +
  * spark-submit), not in this JVM.
  *
  * Usage:
  * {{{
  * spark-submit --class graft.RunDedup <jar> \
  *   --input  /data/pages            (parquet dir, or table:<catalog.tbl>)
  *   --output /data/canonicals       (parquet dir, or table:<catalog.tbl>)
  *   [--checkpoint /data/ckpt]       stage checkpoints + lineage → resumable
  *                                   (keyed on config hash + INPUT fingerprint:
  *                                   a reused dir re-runs when input changes)
  *   [--config-table /data/cfg]      key/value override table (DB-first)
  *   [--config-props /path/app.conf] properties-file overrides
  *   [--stages-out]                  also write decisions/labels next to output
  *   [--metrics /path/metrics.json]  one-line JSON run summary
  * }}}
  *
  * Deliberately NO `.master()` and NO hard-coded shuffle partitions here:
  * spark-submit / cluster defaults own both (AQE coalesces shuffle
  * partitions at runtime). Local callers (tests) pre-build their session —
  * `getOrCreate` then reuses it.
  */
object RunDedup {

  final case class Args(
      input: String = "",
      output: String = "",
      checkpoint: Option[String] = None,
      configTable: Option[String] = None,
      configProps: Option[String] = None,
      stagesOut: Boolean = false,
      metrics: Option[String] = None)

  def parse(argv: Array[String]): Args = {
    def loop(rest: List[String], acc: Args): Args = rest match {
      case Nil => acc
      case "--input" :: v :: t => loop(t, acc.copy(input = v))
      case "--output" :: v :: t => loop(t, acc.copy(output = v))
      case "--checkpoint" :: v :: t => loop(t, acc.copy(checkpoint = Some(v)))
      case "--config-table" :: v :: t => loop(t, acc.copy(configTable = Some(v)))
      case "--config-props" :: v :: t => loop(t, acc.copy(configProps = Some(v)))
      case "--stages-out" :: t => loop(t, acc.copy(stagesOut = true))
      case "--metrics" :: v :: t => loop(t, acc.copy(metrics = Some(v)))
      case bad :: _ => throw new IllegalArgumentException(s"unknown arg: $bad")
    }
    val a = loop(argv.toList, Args())
    require(a.input.nonEmpty, "--input is required")
    require(a.output.nonEmpty, "--output is required")
    a
  }

  /** `table:<name>` → catalog table (Iceberg in a real deployment);
    * otherwise a parquet path.
    */
  private def readInput(spark: SparkSession, spec: String): DataFrame =
    if (spec.startsWith("table:")) spark.table(spec.stripPrefix("table:"))
    else spark.read.parquet(spec)

  private def writeOutput(df: DataFrame, spec: String): Unit =
    if (spec.startsWith("table:"))
      df.writeTo(spec.stripPrefix("table:")).createOrReplace()
    else df.write.mode("overwrite").parquet(spec)

  /** Input-identity fingerprint folded into the checkpoint key: a recurring
    * Airflow/cron job reusing one `--checkpoint` dir across input batches
    * must NOT silently replay the previous batch's checkpoints when the
    * input changes. The fingerprint covers the input spec plus the sorted
    * data-file listing (for moderate file counts, also each file's
    * length + mtime — ONE listStatus per parent dir, never a per-file
    * RPC — so an in-place rewrite invalidates too).
    *
    * CAVEAT: `Dataset.inputFiles` is empty for catalog relations that
    * aren't file-backed in Spark's eyes (e.g. an Iceberg DSv2 table) —
    * there the fingerprint degrades to SHA(spec) and CANNOT see snapshot
    * changes. A warning is logged; use a unique `--checkpoint` dir per
    * input batch for such tables.
    */
  private[graft] def inputFingerprint(spark: SparkSession, spec: String,
      df: DataFrame): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // NUL-delimit every field: raw concatenation is not injective over
    // (spec, file list) — a boundary shift between spec and the first path,
    // or between two paths, would let two different batches collide onto
    // one checkpoint key, silently replaying the other batch's stages.
    md.update(spec.getBytes("UTF-8")); md.update(0.toByte)
    val files = df.inputFiles.sorted
    if (files.isEmpty && spec.startsWith("table:"))
      System.err.println(s"[graft] WARN: input '$spec' exposes no data files " +
        "(non-file-backed catalog relation) — the checkpoint key cannot " +
        "detect input changes; use a unique --checkpoint dir per batch")
    files.foreach { f => md.update(f.getBytes("UTF-8")); md.update(0.toByte) }
    // stat only at moderate counts: driver-side listings don't belong in a
    // 10^6-file job's startup, and there the path set alone already shifts
    // with any rewrite
    if (files.nonEmpty && files.length <= 4096) {
      val conf = spark.sparkContext.hadoopConfiguration
      // group by parent so the stats come from one listStatus per directory
      val byParent = scala.collection.mutable.LinkedHashMap
        .empty[org.apache.hadoop.fs.Path, scala.collection.mutable.TreeSet[String]]
      files.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        if (p.getParent != null)
          byParent.getOrElseUpdate(p.getParent,
            scala.collection.mutable.TreeSet.empty[String]) += p.getName
      }
      byParent.foreach { case (dir, names) =>
        try {
          dir.getFileSystem(conf).listStatus(dir)
            .filter(st => names.contains(st.getPath.getName))
            .sortBy(_.getPath.getName)
            .foreach(st => md.update(
              s"#${st.getPath.getName}#${st.getLen}#${st.getModificationTime}"
                .getBytes("UTF-8")))
        } catch { case _: Exception => () }
      }
    }
    md.digest().map("%02x".format(_)).mkString.take(16)
  }

  def run(spark: SparkSession, a: Args): Map[String, Long] = {
    val t0 = System.nanoTime()
    // fail fast on a missing/unreadable props file: GraftConfig.load
    // silently skips a nonexistent path (and reads via java.nio, so only
    // driver-LOCAL paths work) — a typo'd --config-props would otherwise
    // run the whole job on defaults AND checkpoint under the wrong config
    a.configProps.foreach { p =>
      require(java.nio.file.Files.isReadable(java.nio.file.Paths.get(p)),
        s"--config-props '$p' is not a readable driver-local file " +
          "(properties files are read via java.nio; ship them with --files)")
    }
    val cfg = GraftConfig.load(spark, a.configTable, a.configProps)
    val pages = readInput(spark, a.input)
    // the fingerprint exists only to invalidate checkpoints — without a
    // checkpoint dir there is nothing to invalidate, so skip the listing
    val pipeline = new DedupPipeline(spark, cfg, a.checkpoint,
      ckptKeyExtra =
        if (a.checkpoint.isDefined) inputFingerprint(spark, a.input, pages) else "")
    // without a checkpoint dir the stage caches are released on every
    // exit, a failed output write included: the session outlives this run
    try {
      val result = pipeline.runAll(pages)
      writeOutput(result.canonicals, a.output)
      // Side tables a downstream consumer needs for audit/incremental folds.
      if (a.stagesOut) {
        writeOutput(result.decisions, s"${a.output.stripSuffix("/")}_decisions")
        writeOutput(result.labels, s"${a.output.stripSuffix("/")}_labels")
      }

      // each stage's row count as the pipeline recorded it when it made
      // the stage: no Spark job, with or without a checkpoint dir
      val rows = pipeline.stageRowCounts
      rows.map { case (stage, n) => s"rows_$stage" -> n } ++ Map(
        "canonical_rows" -> rows("canonicals"),
        "wall_ms" -> (System.nanoTime() - t0) / 1000000L)
    } finally if (a.checkpoint.isEmpty) pipeline.unpersistAll()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = SparkSession.builder().appName("graft-dedup").getOrCreate()
    try {
      val stats = run(spark, a)
      val json = stats.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      a.metrics.foreach { p =>
        val fs = new org.apache.hadoop.fs.Path(p)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
        try out.write(json.getBytes("UTF-8")) finally out.close()
      }
      // one machine-readable line, same contract as Bench/Verify
      println(s"""[run_dedup] $json""")
    } finally {
      // spark-submit owns the session lifecycle in cluster mode; stopping
      // here is correct for both client and cluster deploy modes.
      spark.stop()
    }
  }
}
