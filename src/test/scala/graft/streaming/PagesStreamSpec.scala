package graft.streaming

import graft.SparkSpec
import graft.datagen.PagesGen
import org.apache.spark.sql.functions._
import java.nio.file.Files

class PagesStreamSpec extends SparkSpec {
  import spark.implicits._

  test("windowed host stats: append mode emits watermark-closed windows ≡ batch agg") {
    val base = Files.createTempDirectory("graft-window-stream").toString
    val in = s"$base/in"; val out = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(in).mkdirs()

    val pages = PagesGen.pages(spark, 300L).toDF() // warc_ts spans ~5 min
    pages.write.mode("append").parquet(in)
    PagesStream.hostWindowStream(spark, in, out, ckpt,
      windowDuration = "1 minute", watermarkDelay = "1 second").awaitTermination()

    // a far-future sentinel advances the watermark past every real window
    val sentinel = PagesGen.pages(spark, 1L).toDF()
      .withColumn("warc_ts", lit(new java.sql.Timestamp(1735689600000L + 86400000L * 2)))
      .withColumn("url", lit("https://sentinel.example/late"))
    sentinel.write.mode("append").parquet(in)
    PagesStream.hostWindowStream(spark, in, out, ckpt,
      windowDuration = "1 minute", watermarkDelay = "1 second").awaitTermination()

    val got = spark.read.parquet(out)
      .select($"window_start", $"host", $"pages", $"mean_text_len")
    // batch oracle over the original 300 pages (sentinel's own window stays
    // open — the watermark never passes it)
    val oracle = pages
      .select($"url", $"warc_ts",
        graft.functions.TextFunctions.extractText($"html").as("t"))
      .withColumn("host", graft.operators.UrlOps.host($"url"))
      .groupBy(window($"warc_ts", "1 minute"), $"host")
      .agg(count(lit(1)).as("pages"), avg(length($"t")).as("mean_text_len"))
      .select($"window.start".as("window_start"), $"host", $"pages", $"mean_text_len")
    val gotSet = got.as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    val oracleSet = oracle.as[(java.sql.Timestamp, String, Long, Double)].collect().toSet
    assert(gotSet == oracleSet,
      s"stream=${gotSet.size} cells, batch=${oracleSet.size}; " +
        s"missing=${(oracleSet -- gotSet).take(3)} extra=${(gotSet -- oracleSet).take(3)}")
  }
}
