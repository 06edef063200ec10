package graft.pipeline

import graft.SparkSpec
import graft.datagen.PagesGen
import java.nio.file.Files
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The checkpoint commit protocol's cost and on-disk format: a commit is the
  * stage's own write and nothing else, a read-back launches no job, the meta
  * sidecar alone records rows and schema, and a sidecar whose data dir is
  * gone reads as incomplete.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def pages = PagesGen.pages(spark, 200L).toDF
  private def workDir(tag: String) = Files.createTempDirectory(s"graft_ck_$tag").toString
  private def jobs[T](body: => T): (T, Int) = JobCount(spark.sparkContext)(body)

  test("a narrow stage commits in exactly one Spark job") {
    val ck = new Checkpoints(spark, workDir("commit"), "h")
    val (_, n) = jobs(ck.stage("urls")(pages.select("url")))
    assert(n == 1, s"commit launched $n jobs")
    assert(ck.stageRows() == Map("urls" -> 200L))
  }

  test("reading back a complete stage launches no job, in the same or a fresh instance") {
    val dir = workDir("readback")
    val ck = new Checkpoints(spark, dir, "h")
    ck.stage("urls")(pages.select("url"))
    Seq(ck, new Checkpoints(spark, dir, "h")).foreach { c =>
      val (back, n) = jobs(c.stage("urls")(fail("a complete stage must not recompute")))
      assert(n == 0, s"read-back launched $n jobs")
      assert(back.columns.toSeq == Seq("url"))
    }
  }

  test("an empty stage commits rows = 0 and reads back with its stored schema") {
    val dir = workDir("empty")
    val filtered = pages.select($"url", $"warc_ts").where(lit(false))
    val local = spark.createDataFrame(java.util.List.of[Row](), filtered.schema)
    val ck = new Checkpoints(spark, dir, "h")
    ck.stage("filtered")(filtered)
    ck.stage("local")(local)
    assert(ck.stageRows() == Map("filtered" -> 0L, "local" -> 0L))
    Seq("filtered", "local").foreach { name =>
      val back = new Checkpoints(spark, dir, "h").stage(name)(fail("must not recompute"))
      assert(back.schema.map(f => f.name -> f.dataType) ==
        filtered.schema.map(f => f.name -> f.dataType))
      assert(back.count() == 0L)
    }
  }

  test("a meta sidecar without the schema field (older layout) reads as incomplete") {
    val dir = workDir("old")
    val ck = new Checkpoints(spark, dir, "h")
    ck.stage("s")(Seq(1, 2, 3).toDF("v"))
    // through the Hadoop FS, which keeps the sidecar's checksum file valid
    val meta = new org.apache.hadoop.fs.Path(s"$dir/s__meta.json")
    val out = meta.getFileSystem(spark.sparkContext.hadoopConfiguration).create(meta, true)
    try out.write("""{"stage":"s","config_hash":"h","rows":3,"wall_ms":5}""".getBytes("UTF-8"))
    finally out.close()
    assert(!ck.isComplete("s"))
    var recomputed = false
    val back = ck.stage("s") { recomputed = true; Seq(1, 2, 3).toDF("v") }
    assert(recomputed && back.count() == 3L && ck.isComplete("s"))
  }

  test("stageRows() holds each multi-partition stage's committed row count") {
    val ck = new Checkpoints(spark, workDir("rows"), "h")
    ck.stage("a")(pages.select("url").repartition(5))
    ck.stage("b")(spark.range(0L, 1000L, 1L, 7).toDF("id"))
    ck.stage("c")(pages.select("url").where(lit(false)))
    assert(ck.stageRows() == Map("a" -> 200L, "b" -> 1000L, "c" -> 0L))
  }

  test("isComplete self-heals when the data dir is gone but the meta sidecar survives") {
    val wd = java.nio.file.Files.createTempDirectory("graft_ck_heal").toString
    import spark.implicits._
    val ck = new Checkpoints(spark, wd, "heal-hash")
    ck.stage("s")(Seq(1, 2, 3).toDF("v"))
    assert(ck.isComplete("s"))
    // partial cleanup: data dir deleted, meta sidecar left behind
    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$wd/s"), true)
    assert(!ck.isComplete("s"), "orphaned meta must not claim completeness")
    assert(ck.stage("s")(Seq(1, 2, 3).toDF("v")).count() == 3, "stage must recompute")
  }
}
