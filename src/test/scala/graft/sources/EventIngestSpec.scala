package graft.sources

import graft.SparkSpec

class EventIngestSpec extends SparkSpec {
  import spark.implicits._

  test("S3: file-hash idempotency anti-join skips already-ingested") {
    val files = Seq(("f1", "contentA"), ("f2", "contentB"), ("f3", "contentA"))
      .toDF("file_name", "content")
      .withColumn("file_hash", EventIngest.fileHash($"content"))
    val ledger = Seq(("contentA")).toDF("c")
      .select(EventIngest.fileHash($"c").as("file_hash"))
    val fresh = EventIngest.skipIngested(files, ledger)
      .select("file_name").as[String].collect().toSet
    assert(fresh == Set("f2")) // f1 and f3 share the ingested hash
  }

  test("ingest-time normalization + city alias resolution (P3)") {
    // flattened event rows as ingest hands them on: e1's city is already
    // its sanitize override, e2 carries none
    val events = Seq(
      ("e1", "Narrenumzug", null: String, null: String, "Kenzingen"),
      ("e2", "Konzert", null: String, null: String, "Freiburg"))
      .toDF("id", "title", "short_description", "description", "location_city")
    val norm = EventIngest.withNormalized(events,
      synonyms = Map("fasnet" -> "fasnacht"),
      dashPrefixes = Seq("Events"),
      cityAliases = Map("altdorf" -> "ettenheim", "kenzingen" -> "kenzingen"))
    val e1 = norm.where($"id" === "e1").collect()(0)
    assert(e1.getAs[String]("title_normalized") == "narrenumzug")
    assert(e1.getAs[String]("city_normalized") == "kenzingen")
    val e2 = norm.where($"id" === "e2").collect()(0)
    assert(e2.getAs[String]("city_normalized") == "freiburg") // not aliased
  }
}
