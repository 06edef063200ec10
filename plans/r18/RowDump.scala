package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.config.GraftConfig
import graft.pipeline.DedupPipeline

/** Dump every stage of one pipeline run on batch 0 of each perfbench
  * workload (seed 1) as sorted JSON lines, one file per stage, and the
  * executed plan of each persisted stage with expression, operator, plan
  * and query-stage ids normalized.
  *
  *   RowDump <outDir>
  */
object RowDump {
  private def normalized(plan: String): String = plan
    .replaceAll("#\\d+L?", "#")
    .replaceAll("\\*\\(\\d+\\)", "*(N)")
    .replaceAll("plan_id=\\d+", "plan_id=")
    .replaceAll("QueryStage \\d+", "QueryStage N")

  def main(args: Array[String]): Unit = {
    val out = args(0)
    val spark = SparkSession.builder().master("local[4]").appName("rowdump")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.local.dir", s"$out/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    def write(path: String, text: String): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(path), text.getBytes("UTF-8"))
    for (name <- Seq("mirror_skew", "small_batches")) {
      val wl = _root_.perfbench.Main.workloads(name)
      val gen = wl.gen(0)
      val c = _root_.perfbench.Corpus.write(spark, gen, 1L, 0L, gen.total, s"$out/$name/input")
      val props = s"$out/$name/graft.properties"
      write(props, wl.configProps)
      val cfg = GraftConfig.fromPropertiesFile(props)
      val p = new DedupPipeline(spark, cfg)
      val r = p.runAll(spark.read.parquet(c.path))
      Seq("extracted" -> r.extracted, "signatures" -> r.signatures, "candidates" -> r.candidates,
          "decisions" -> r.decisions, "labels" -> r.labels, "canonicals" -> r.canonicals).foreach {
        case (stage, df) =>
          val rows = df.select(to_json(struct(df.columns.sorted.map(col): _*))).as[String]
            .collect().sorted
          write(s"$out/$name/$stage.jsonl", rows.mkString("\n"))
          write(s"$out/$name/$stage.plan.txt",
            normalized(p.computedStage(stage).queryExecution.executedPlan.toString))
          println(s"$name $stage ${rows.length} rows")
      }
      p.unpersistAll()
    }
    spark.stop()
  }
}
