package graft.pipeline

import graft.{RunDedup, SparkSpec}
import graft.datagen.PagesGen
import java.nio.file.Files
import org.apache.spark.graft.JobCount

/** The spark-submit entrypoint (`graft.RunDedup`) end-to-end: arg parsing,
  * a full run writing canonicals + metrics, and checkpointed re-run reuse
  * (second invocation reads stages back instead of recomputing — the
  * north_rule's resumability, exercised through the production main).
  */
class RunDedupSpec extends SparkSpec {

  test("parse: required args enforced, flags recognized") {
    val a = RunDedup.parse(Array(
      "--input", "/in", "--output", "/out", "--checkpoint", "/ck",
      "--stages-out", "--metrics", "/m.json"))
    assert(a.input == "/in" && a.output == "/out")
    assert(a.checkpoint.contains("/ck") && a.stagesOut && a.metrics.contains("/m.json"))
    intercept[IllegalArgumentException](RunDedup.parse(Array("--output", "/out")))
    intercept[IllegalArgumentException](RunDedup.parse(Array("--input", "/in", "--bogus")))
  }

  test("run: pages parquet in, canonicals + stage tables + metrics out, resumable") {
    val dir = Files.createTempDirectory("graft_run_dedup").toString
    val in = s"$dir/pages"; val out = s"$dir/canonicals"; val ck = s"$dir/ckpt"
    PagesGen.pages(spark, 400L).toDF.write.parquet(in)

    val args = RunDedup.parse(Array(
      "--input", in, "--output", out, "--checkpoint", ck, "--stages-out"))
    val stats = RunDedup.run(spark, args)

    val canon = spark.read.parquet(out)
    assert(canon.count() > 0 && canon.count() == stats("canonical_rows"))
    assert(canon.columns.contains("canonical_url"))
    // side tables for downstream consumers
    assert(spark.read.parquet(s"${out}_decisions").count() >= 0)
    val labels = spark.read.parquet(s"${out}_labels")
    assert(labels.count() == 400L) // full vertex universe, singletons kept
    // lineage-derived stage row counts surfaced in the summary
    assert(stats.keys.exists(_.startsWith("rows_")))
    assert(stats("rows_labels") == 400L)

    // Re-run with the same config hash: every stage must be read back from
    // the checkpoint, not recomputed — meta sidecars' wall_ms are untouched.
    val metaBefore = new java.io.File(ck).listFiles()
      .filter(_.getName.endsWith("__meta.json")).map(f => f.getName -> f.lastModified).toMap
    assert(metaBefore.nonEmpty)
    val stats2 = RunDedup.run(spark, args)
    val metaAfter = new java.io.File(ck).listFiles()
      .filter(_.getName.endsWith("__meta.json")).map(f => f.getName -> f.lastModified).toMap
    assert(metaAfter == metaBefore, "checkpointed stages were recomputed on re-run")
    assert(stats2("canonical_rows") == stats("canonical_rows"))

    // CHANGED input under the SAME checkpoint dir must re-run, not silently
    // replay the previous batch (checkpoint key = config hash + input
    // fingerprint): a recurring job reusing one --checkpoint dir is the
    // normal deployment shape.
    PagesGen.pages(spark, 150L).toDF.write.mode("overwrite").parquet(in)
    val stats3 = RunDedup.run(spark, args)
    assert(stats3("rows_labels") == 150L,
      s"stale checkpoint replayed: ${stats3.filter(_._1.startsWith("rows_"))}")
    assert(spark.read.parquet(s"${out}_labels").count() == 150L)
    // and the rows_* summary must not mix in the 400-page batch's lineage
    assert(stats3("rows_extracted") == 150L)
  }

  test("a resume over complete checkpoints launches only the output write's jobs") {
    val dir = Files.createTempDirectory("graft_run_resume").toString
    PagesGen.pages(spark, 300L).toDF.write.parquet(s"$dir/pages")
    val args = RunDedup.parse(Array(
      "--input", s"$dir/pages", "--output", s"$dir/out", "--checkpoint", s"$dir/ckpt"))
    val first = RunDedup.run(spark, args)
    val (again, jobs) = JobCount(spark.sparkContext)(
      RunDedup.run(spark, args.copy(output = s"$dir/out-resumed")))
    assert(jobs <= 2, s"resume launched $jobs jobs")
    assert(again - "wall_ms" == first - "wall_ms")
    assert(spark.read.parquet(s"$dir/out-resumed").count() == first("canonical_rows"))
  }

  test("a run without a checkpoint dir reports the same stage row counts") {
    val dir = Files.createTempDirectory("graft_run_rows").toString
    PagesGen.pages(spark, 250L).toDF.write.parquet(s"$dir/pages")
    val plain = RunDedup.parse(Array("--input", s"$dir/pages", "--output", s"$dir/out"))
    val checkpointed = RunDedup.run(spark, plain.copy(checkpoint = Some(s"$dir/ckpt")))
    val uncheckpointed = RunDedup.run(spark, plain)
    val stages = Seq("extracted", "signatures", "candidates", "tier1_decisions",
      "decisions", "labels", "clusters", "canonicals")
    assert(checkpointed.keySet == stages.map("rows_" + _).toSet ++ Set("canonical_rows", "wall_ms"))
    assert(uncheckpointed - "wall_ms" == checkpointed - "wall_ms")
    assert(uncheckpointed("canonical_rows") == spark.read.parquet(s"$dir/out").count())
  }

  test("a failed output write still releases every stage cache") {
    val dir = Files.createTempDirectory("graft_run_fail").toString
    PagesGen.pages(spark, 200L).toDF.write.parquet(s"$dir/pages")
    spark.catalog.clearCache()
    // no catalog is registered under this name: the write throws after the
    // pipeline has persisted its stages
    val args = RunDedup.parse(Array(
      "--input", s"$dir/pages", "--output", "table:missing_catalog.db.canonicals"))
    intercept[Exception](RunDedup.run(spark, args))
    assert(spark.sharedState.cacheManager.isEmpty, "stage caches outlived a failed run")
  }
}
