package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Event-file ingestion helpers (SURVEY.md §2.1 S3, P3).
  *
  * The reference skips already-seen files by SHA-256
  * (`event_dedup/ingestion/file_processor.py:187-196`)
  * and normalizes at ingest (:222-236). Spark-native re-expression: file
  * idempotency is a left-anti join against an ingestion-ledger table (no
  * driver-side file loop), and normalization is a column projection plus a
  * broadcast alias join.
  */
object EventIngest {

  /** S3: file-hash idempotency as a distributed anti-join — files whose
    * SHA-256 already appears in the ledger are skipped
    * (file_processor.py:187-196 semantics without a driver loop).
    * `files` must carry `file_hash`; `ledger` has one column
    * `file_hash`.
    *
    * No broadcast hint: the ledger grows without bound across runs (every
    * ingested file forever), so forcing it driver-side would eventually OOM
    * the driver — the planner broadcasts it while its stats are small and
    * falls back to a shuffled anti-join once it isn't.
    */
  def skipIngested(files: DataFrame, ledger: DataFrame): DataFrame =
    // no .distinct() on the ledger: anti-join semantics are existence-based
    // (duplicate build-side keys cannot change the result), and the ledger
    // grows without bound — a full dedup aggregation over it per ingest run
    // would be pure wasted shuffle
    files.join(ledger.select("file_hash"), Seq("file_hash"), "left_anti")

  /** File hash column for a frame carrying the raw file bytes/text. */
  def fileHash(content: Column): Column =
    sha2(content, 256)

  /** Ingest-time normalization (file_processor.py:222-236): normalized
    * title/description/city columns via the P1-P5 pipeline.
    */
  def withNormalized(
      events: DataFrame,
      synonyms: Map[String, String] = Map.empty,
      dashPrefixes: Seq[String] = Nil,
      colonPrefixes: Seq[String] = Nil,
      genericPrefixes: Seq[String] = Nil,
      cityAliases: Map[String, String] = Map.empty
  ): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val withText = events
      .withColumn("title_normalized",
        TextFunctions.normalizeTitle(col("title"), dashPrefixes, colonPrefixes, genericPrefixes, synonyms))
      .withColumn("description_normalized",
        TextFunctions.normalizeText(coalesce(col("description"), col("short_description")), synonyms))
      .withColumn("city_norm_pre", TextFunctions.normalizeText(col("location_city")))
    // P3 normalize_city: broadcast alias table + coalesce (normalizer.py:70-110)
    if (cityAliases.isEmpty) withText.withColumn("city_normalized", col("city_norm_pre")).drop("city_norm_pre")
    else {
      val aliasDf = broadcast(cityAliases.toSeq.toDF("city_norm_pre", "city_alias"))
      withText.join(aliasDf, Seq("city_norm_pre"), "left")
        .withColumn("city_normalized", coalesce(col("city_alias"), col("city_norm_pre")))
        .drop("city_norm_pre", "city_alias")
    }
  }
}
