package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ReviewSpec extends SparkSpec {
  import spark.implicits._

  test("Q9 review queue: page below 1 fails at the API boundary") {
    val clusters = Seq((1L, 2L, false, 0.5)).toDF("component", "size", "flagged", "match_confidence")
    intercept[IllegalArgumentException] { Review.reviewQueue(clusters, page = 0, pageSize = 10) }
  }

  test("A2 decision cache: duplicate cache entries never multiply pair rows") {
    val pairs = Seq((1L, 2L, "h1")).toDF("node_a", "node_b", "content_hash")
    val cache = Seq(("h1", "match", "t"), ("h1", "match", "t"))
      .toDF("content_hash", "decision", "tier")
    val (decisions, _) = Decisions.resolveWithCache(pairs, cache)(m => m
      .withColumn("decision", lit("no_match")).withColumn("tier", lit("r")))
    assert(decisions.count() == 1, "duplicate cache rows fanned out the pair")
    // and two resolved pairs sharing one hash emit ONE new entry
    val pairs2 = Seq((1L, 2L, "hx"), (3L, 4L, "hx")).toDF("node_a", "node_b", "content_hash")
    val (_, entries) = Decisions.resolveWithCache(pairs2,
      Seq.empty[(String, String, String)].toDF("content_hash", "decision", "tier"))(m => m
      .withColumn("decision", lit("match")).withColumn("tier", lit("r")))
    assert(entries.count() == 1)
  }

  test("A2 decision cache: conflicting same-hash resolutions persist one deterministic entry") {
    // hash-colliding pairs whose resolver answers DIFFER: the persisted
    // entry must be the min(struct) reduce (same rule as the read side),
    // not whichever row's task finished first — a run-dependent cache
    // entry would poison every later run's cached decision
    val pairs = Seq((1L, 2L, "hx"), (3L, 4L, "hx")).toDF("node_a", "node_b", "content_hash")
    val (decisions, entries) = Decisions.resolveWithCache(pairs,
      Seq.empty[(String, String, String)].toDF("content_hash", "decision", "tier")) { m =>
      m.withColumn("decision",
          when($"node_a" === 1L, lit("match")).otherwise(lit("no_match")))
        .withColumn("tier", lit("r"))
    }
    val e = entries.as[(String, String, String)].collect().toSeq
    assert(e == Seq(("hx", "match", "r")), s"non-deterministic cache entry: $e")
    // the RETURNED decisions must agree with the persisted entry — else the
    // first run's output differs from every later cache-hit run
    val d = decisions.select("node_a", "decision").as[(Long, String)].collect().toMap
    assert(d == Map(1L -> "match", 3L -> "match"),
      s"returned decisions diverge from the persisted cache entry: $d")
  }

  test("A2 decision cache: NULL content hashes bypass the cache, never lose their verdict") {
    // a null hash (e.g. sha2 over NULL text) can't equi-join: it must miss
    // the cache, keep its OWN resolver verdict in the returned frame, and
    // never persist an entry (a null-hash entry would canonically merge
    // unrelated contents)
    val pairs = Seq((1L, 2L, Some("h1")), (3L, 4L, Option.empty[String]))
      .toDF("node_a", "node_b", "content_hash")
    val (decisions, entries) = Decisions.resolveWithCache(pairs,
      Seq.empty[(String, String, String)].toDF("content_hash", "decision", "tier")) { m =>
      m.withColumn("decision", lit("no_match")).withColumn("tier", lit("r"))
    }
    // cardinality pinned BEFORE collapsing to a map: a regression that
    // routes the null-hash row through both union branches (or duplicates
    // the hashed row) would be masked by toMap keeping one row per key
    val nOut = decisions.count()
    assert(nOut == 2, s"expected exactly one output row per input pair, got $nOut")
    val d = decisions.select("node_a", "decision", "tier")
      .as[(Long, String, String)].collect()
      .map { case (k, v, t) => k -> ((v, t)) }.toMap
    assert(d(3L) == (("no_match", "r")), s"null-hash pair lost its resolution: $d")
    assert(entries.where($"content_hash".isNull).count() == 0,
      "a null-hash cache entry must never persist")
    assert(entries.count() == 1)
  }

  test("Q9 review queue: flagged-or-uncertain ordered by confidence, paginated") {
    val clusters = Seq(
      (1L, 3L, false, Some(0.5)), // uncertain
      (2L, 2L, true, Some(0.9)), // flagged
      (3L, 2L, false, Some(0.95)), // healthy
      (4L, 1L, false, Option.empty[Double]) // singleton, not queued
    ).toDF("component", "size", "flagged", "match_confidence")
    val q = Review.reviewQueue(clusters, page = 1, pageSize = 10)
      .select("component").as[Long].collect().toSeq
    assert(q == Seq(1L, 2L), s"got $q")
  }

  test("A2 decision cache: hits reuse, misses resolve, new entries returned") {
    val pairs = Seq((1L, 2L, "h1"), (3L, 4L, "h2"), (5L, 6L, "h3"))
      .toDF("node_a", "node_b", "content_hash")
    val cache = Seq(("h1", "match", "cached_tier")).toDF("content_hash", "decision", "tier")
    val (decisions, newEntries) = Decisions.resolveWithCache(pairs, cache) { misses =>
      misses.withColumn("decision", lit("no_match")).withColumn("tier", lit("resolved"))
    }
    val got = decisions.select("content_hash", "decision", "tier")
      .as[(String, String, String)].collect().map { case (k, v, t) => k -> ((v, t)) }.toMap
    assert(got("h1") == (("match", "cached_tier")))
    assert(got("h2") == (("no_match", "resolved")))
    assert(newEntries.count() == 2)
  }

  test("G14 enrichment: a kept existing field restores its existing provenance") {
    import org.apache.spark.sql.functions.{map, lit}
    val existing = Seq(("c1", "a much longer existing description", 3L))
      .toDF("id", "description", "version")
      .withColumn("field_provenance", map(lit("description"), lit("curated-src")))
    val fresh = Seq(("c1", "short new"))
      .toDF("id", "description")
      .withColumn("field_provenance", map(lit("description"), lit("fresh-src")))
    val got = Synthesis.enrich(existing, fresh, "id", Seq("description"))
      .select("description", "field_provenance")
      .as[(String, Map[String, String])].collect()(0)
    assert(got._1 == "a much longer existing description")
    assert(got._2("description") == "curated-src",
      "provenance must follow the KEPT value (enrichment.py:51-57)")
  }

  test("G14 enrichment: longer existing text kept, version bumps") {
    val existing = Seq(("c1", "a much longer existing description", 3L))
      .toDF("id", "description", "version")
    val fresh = Seq(("c1", "short new"), ("c2", "brand new cluster"))
      .toDF("id", "description")
    val got = Synthesis.enrich(existing, fresh, "id", Seq("description"))
      .select("id", "description", "version").as[(String, String, Long)].collect()
      .map { case (k, d, v) => k -> ((d, v)) }.toMap
    assert(got("c1") == (("a much longer existing description", 4L)))
    assert(got("c2") == (("brand new cluster", 1L)))
  }
}
