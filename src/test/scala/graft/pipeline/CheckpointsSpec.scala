package graft.pipeline

import graft.SparkSpec
import graft.datagen.PagesGen
import java.nio.file.Files
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** The checkpoint commit protocol's cost and on-disk format: a commit is the
  * stage's own write and nothing else, a read-back launches no job, the meta
  * sidecar alone records rows and schema (`stage` returns the rows with the
  * read-back), and a sidecar whose data dir is gone reads as incomplete.
  */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  private def pages = PagesGen.pages(spark, 200L).toDF
  private def workDir(tag: String) = Files.createTempDirectory(s"graft_ck_$tag").toString
  private def jobs[T](body: => T): (T, Int) = JobCount(spark.sparkContext)(body)

  test("a narrow stage commits in exactly one Spark job") {
    val ck = new Checkpoints(spark, workDir("commit"), "h")
    val ((_, rows), n) = jobs(ck.stage("urls")(pages.select("url")))
    assert(n == 1, s"commit launched $n jobs")
    assert(rows == 200L)
  }

  test("reading back a complete stage launches no job, in the same or a fresh instance") {
    val dir = workDir("readback")
    val ck = new Checkpoints(spark, dir, "h")
    ck.stage("urls")(pages.select("url"))
    Seq(ck, new Checkpoints(spark, dir, "h")).foreach { c =>
      val ((back, rows), n) = jobs(c.stage("urls")(fail("a complete stage must not recompute")))
      assert(n == 0, s"read-back launched $n jobs")
      assert(back.columns.toSeq == Seq("url") && rows == 200L)
    }
  }

  test("an empty stage commits rows = 0 and reads back with its stored schema") {
    val dir = workDir("empty")
    val filtered = pages.select($"url", $"warc_ts").where(lit(false))
    val local = spark.createDataFrame(java.util.List.of[Row](), filtered.schema)
    val ck = new Checkpoints(spark, dir, "h")
    assert(ck.stage("filtered")(filtered)._2 == 0L)
    assert(ck.stage("local")(local)._2 == 0L)
    Seq("filtered", "local").foreach { name =>
      val (back, rows) = new Checkpoints(spark, dir, "h").stage(name)(fail("must not recompute"))
      assert(rows == 0L)
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
    val (back, rows) = ck.stage("s") { recomputed = true; Seq(1, 2, 3).toDF("v") }
    assert(recomputed && back.count() == 3L && rows == 3L && ck.isComplete("s"))
  }

  test("stage() returns each multi-partition stage's committed row count") {
    val dir = workDir("rows")
    val ck = new Checkpoints(spark, dir, "h")
    val stages = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "a" -> (() => pages.select("url").repartition(5)),
      "b" -> (() => spark.range(0L, 1000L, 1L, 7).toDF("id")),
      "c" -> (() => pages.select("url").where(lit(false))))
    val want = Map("a" -> 200L, "b" -> 1000L, "c" -> 0L)
    assert(stages.map { case (n, df) => n -> ck.stage(n)(df())._2 }.toMap == want)
    // read back from the meta sidecar by a fresh instance
    val again = new Checkpoints(spark, dir, "h")
    assert(stages.map { case (n, _) => n -> again.stage(n)(fail("must not recompute"))._2 }
      .toMap == want)
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
    assert(ck.stage("s")(Seq(1, 2, 3).toDF("v"))._1.count() == 3, "stage must recompute")
  }
}
