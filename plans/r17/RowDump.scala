import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.config.GraftConfig
import graft.pipeline.DedupPipeline

/** Dump every stage of one pipeline run on batch 0 of each perfbench
  * workload (seed 1) as sorted JSON lines, one file per stage. */
object RowDump {
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
    for (name <- Seq("mirror_skew", "small_batches")) {
      val wl = perfbench.Main.workloads(name)
      val gen = wl.gen(0)
      val c = perfbench.Corpus.write(spark, gen, 1L, 0L, gen.total, s"$out/$name/input")
      val props = s"$out/$name/graft.properties"
      java.nio.file.Files.write(java.nio.file.Paths.get(props), wl.configProps.getBytes("UTF-8"))
      val cfg = GraftConfig.fromPropertiesFile(props)
      val p = new DedupPipeline(spark, cfg)
      val r = p.runAll(spark.read.parquet(c.path))
      Seq("extracted" -> r.extracted, "signatures" -> r.signatures, "candidates" -> r.candidates,
          "decisions" -> r.decisions, "labels" -> r.labels, "canonicals" -> r.canonicals).foreach {
        case (stage, df) =>
          val rows = df.select(to_json(struct(df.columns.sorted.map(col): _*))).as[String]
            .collect().sorted
          java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/$name/$stage.jsonl"),
            rows.mkString("\n").getBytes("UTF-8"))
          println(s"$name $stage ${rows.length} rows")
      }
      p.unpersistAll()
    }
    spark.stop()
  }
}
