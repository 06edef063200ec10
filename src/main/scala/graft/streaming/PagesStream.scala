package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.operators.UrlOps
import graft.functions.TextFunctions

/** Streaming ingestion (SURVEY.md §2.1 S14): new parquet crawl drops under
  * `inputDir` are picked up incrementally by a Structured Streaming file
  * source. `Trigger.AvailableNow` gives batch mode: drain everything
  * pending, then stop.
  */
object PagesStream {

  /** Windowed per-host crawl statistics — the streaming analog of the q10
    * daily-series dashboard: tumbling event-time windows × registered host,
    * page count + mean extracted length per cell. Append mode emits a
    * window only once the WATERMARK closes it (exactly-once per cell, no
    * re-emission) — rows later than `watermarkDelay` are dropped, the
    * standard bounded-state trade. State size tracks open windows × hosts,
    * not the corpus.
    */
  def hostWindowStream(
      spark: SparkSession,
      inputDir: String,
      outputDir: String,
      checkpointDir: String,
      windowDuration: String = "1 hour",
      watermarkDelay: String = "30 minutes",
      availableNow: Boolean = true
  ): StreamingQuery = {
    val pages = spark.readStream
      .schema("url STRING, warc_ts TIMESTAMP, html BINARY, text STRING, lang STRING")
      .parquet(inputDir)
    val agg = pages
      // a NULL warc_ts lands in a null window cell the watermark can never
      // close — Append mode would hold (and grow) that group's state forever
      .where(col("warc_ts").isNotNull)
      .select(col("url"), col("warc_ts"),
        TextFunctions.extractText(col("html")).as("extracted_text"))
      .withColumn("host", UrlOps.host(col("url")))
      .withWatermark("warc_ts", watermarkDelay)
      .groupBy(window(col("warc_ts"), windowDuration), col("host"))
      .agg(count(lit(1)).as("pages"),
        avg(length(col("extracted_text"))).as("mean_text_len"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("host"), col("pages"), col("mean_text_len"))
    val writer = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", outputDir)
      .option("checkpointLocation", checkpointDir)
    (if (availableNow) writer.trigger(Trigger.AvailableNow()) else writer).start()
  }
}
