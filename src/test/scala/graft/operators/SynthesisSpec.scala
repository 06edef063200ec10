package graft.operators

import graft.SparkSpec
import graft.config.GraftConfig
import org.apache.spark.sql.functions._

/** Synthesis-strategy semantics lifted from
  * `/root/reference/src/event_dedup/canonical/synthesizer.py` and its test
  * suite (`tests/test_synthesizer.py`), with deterministic tie-breaks
  * (SURVEY.md §7.5 delta).
  */
class SynthesisSpec extends SparkSpec {
  import spark.implicits._

  test("selectLongest picks longest non-empty with provenance") {
    val df = Seq(
      ("c1", "e1", "short"),
      ("c1", "e2", "a much longer value"),
      ("c1", "e3", "")
    ).toDF("cluster", "id", "v")
    val got = df.groupBy($"cluster")
      .agg(Synthesis.selectLongest($"v", $"id").as("s"))
      .select($"s.value", $"s.src").as[(String, String)].collect()(0)
    assert(got == ("a much longer value", "e2"))
  }

  test("selectLongest: all empty → null value, provenance min id (ref: first event)") {
    val df = Seq(("c1", "e2", ""), ("c1", "e1", "")).toDF("cluster", "id", "v")
    val got = df.groupBy($"cluster")
      .agg(Synthesis.selectLongest($"v", $"id").as("s"))
      .select($"s.value").as[Option[String]].collect()(0)
    assert(got.isEmpty)
  }

  test("selectLongestNonGeneric prefers values >= 10 chars, falls back to longest") {
    val df = Seq(
      ("c1", "e1", "tiny"),
      ("c1", "e2", "long enough title"),
      ("c1", "e3", "even longer but still a title")
    ).toDF("cluster", "id", "v")
    val got = df.groupBy($"cluster")
      .agg(Synthesis.selectLongestNonGeneric($"v", $"id").as("s"))
      .select($"s.value").as[String].collect()(0)
    assert(got == "even longer but still a title")

    // all below min_length → fall back to longest regardless
    val df2 = Seq(("c1", "e1", "abc"), ("c1", "e2", "abcdef")).toDF("cluster", "id", "v")
    val got2 = df2.groupBy($"cluster")
      .agg(Synthesis.selectLongestNonGeneric($"v", $"id").as("s"))
      .select($"s.value", $"s.src").as[(String, String)].collect()(0)
    assert(got2 == ("abcdef", "e2"))

    // all empty → empty string (synthesizer.py:180-182)
    val df3 = Seq(("c1", "e1", null: String)).toDF("cluster", "id", "v")
    val got3 = df3.groupBy($"cluster")
      .agg(Synthesis.selectLongestNonGeneric($"v", $"id").as("s"))
      .select($"s.value").as[String].collect()(0)
    assert(got3 == "")
  }

  test("selectUnionLists dedups across members (sorted for determinism)") {
    val df = Seq(
      ("c1", Seq("musik", "fest")),
      ("c1", Seq("fest", "kinder")),
      ("c1", Seq.empty[String])
    ).toDF("cluster", "cats")
    val got = df.groupBy($"cluster")
      .agg(Synthesis.selectUnionLists($"cats").as("u"))
      .select($"u").as[Seq[String]].collect()(0)
    assert(got == Seq("fest", "kinder", "musik"))
  }

  test("mostFrequent: max count, deterministic tie-break = min value") {
    val df = Seq(
      ("c1", "freiburg"), ("c1", "freiburg"), ("c1", "emmendingen"),
      ("c2", "b"), ("c2", "a")
    ).toDF("cluster", "city")
    val counts = df.groupBy($"cluster", $"city").agg(count(lit(1)).as("n"))
    val got = counts.groupBy($"cluster")
      .agg(Synthesis.mostFrequent($"n", $"city").as("city"))
      .as[(String, String)].collect().toMap
    assert(got("c1") == "freiburg")
    assert(got("c2") == "a") // tie → min value
  }

  test("anyTrue with provenance of first true member") {
    val df = Seq(
      ("c1", "e1", false), ("c1", "e2", true), ("c1", "e3", true),
      ("c2", "e4", false)
    ).toDF("cluster", "id", "flag")
    val got = df.groupBy($"cluster")
      .agg(Synthesis.anyTrue($"flag", $"id").as("s"))
      .select($"cluster", $"s.value", $"s.src").as[(String, Boolean, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got("c1") == ((true, "e2")))
    assert(got("c2") == ((false, "e4")))
  }

  test("coherence flags over-large and low-similarity clusters (coherence.py:16-65)") {
    val cfg = GraftConfig.default // max size 15, min internal sim 0.40
    val labels = ((1L to 20L).map(i => (i, 100L)) ++ // oversized cluster
      Seq((30L, 200L), (31L, 200L)) ++ // low-sim cluster
      Seq((40L, 300L), (41L, 300L)) ++ // healthy cluster
      Seq((50L, 400L))) // singleton
      .toDF("node", "component")
    val edges = (
      (1L until 20L).map(i => (i, i + 1, 0.9)) ++
        Seq((30L, 31L, 0.2)) ++
        Seq((40L, 41L, 0.95))
      ).toDF("src", "dst", "weight")
    val flags = graft.Oracles.coherence(labels, edges, cfg)
      .select($"component", $"flagged").as[(Long, Boolean)].collect().toMap
    assert(flags(100L)) // size 20 > 15
    assert(flags(200L)) // avg weight 0.2 < 0.40
    assert(!flags(300L))
    assert(!flags(400L)) // singleton unflagged
  }

  test("clusterConfidence: mean edge weight per cluster, absent for singletons") {
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (9L, 9L)).toDF("node", "component")
    val edges = Seq((1L, 2L, 0.8), (2L, 3L, 0.6)).toDF("src", "dst", "weight")
    val got = graft.Oracles.clusterConfidence(labels, edges)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(got(1L) - 0.7) < 1e-12)
    assert(!got.contains(9L))
  }

  test("clusterQuality == coherence + clusterConfidence + tierFlags (fused pass)") {
    val cfg = GraftConfig.default
    val labels = ((1L to 20L).map(i => (i, 100L)) ++
      Seq((30L, 200L), (31L, 200L), (40L, 300L), (41L, 300L), (50L, 400L)))
      .toDF("node", "component")
    val decisions = (
      (1L until 20L).map(i => (i, i + 1, 0.9, "match", "jaccard")) ++
        Seq((30L, 31L, 0.2, "match", "jaccard")) ++
        Seq((40L, 41L, 0.95, "match", "exact_text")) ++
        Seq((40L, 50L, 0.0, "overlap_match", "overlap")) ++ // tier flag only
        Seq((30L, 40L, 0.1, "no_match", "jaccard")) // ignored entirely
      ).toDF("node_a", "node_b", "exact_jaccard", "decision", "tier")
    val canon = labels.groupBy($"component")
      .agg(count(lit(1)).as("source_count"), lit(0L).as("distinct_days"))
    val fused = Synthesis.clusterQuality(canon, labels, decisions, cfg)
      .select($"component", $"flagged", $"match_confidence", $"tier2_assisted")
      .as[(Long, Boolean, Option[Double], Option[Boolean])].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    val edges = Decisions.matchEdges(decisions)
    val coh = graft.Oracles.coherence(labels, edges, cfg)
      .select($"component", $"flagged", $"avg_weight")
      .as[(Long, Boolean, Option[Double])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val tiers = graft.Oracles.tierFlags(labels, decisions)
      .as[(Long, Boolean)].collect().toMap

    coh.keys.foreach { c =>
      assert(fused(c)._1 == coh(c)._1, s"flagged mismatch at $c")
      assert(fused(c)._2 == coh(c)._2, s"confidence mismatch at $c")
      assert(fused(c)._3.getOrElse(false) == tiers.getOrElse(c, false), s"tier mismatch at $c")
    }
  }

  test("singletonClusters == clusterQuality over clusters on one-member clusters") {
    val ts = java.sql.Timestamp.valueOf("2025-01-01 10:00:00")
    val rows = Seq[(Long, String, java.sql.Timestamp, String, String)](
      (1L, "https://s.example/1", ts, "en", "some text"),
      (2L, null, ts, "de", "text of a null url"),
      (3L, "https://s.example/3", ts, "en", null),
      (4L, "https://s.example/4", ts, "en", ""),
      (5L, "https://s.example/5", ts, null, "text"),
      (6L, "https://s.example/6", null, "fr", "text"),
      (7L, null, null, null, null))
    val labeled = rows.toDF("node", "url", "warc_ts", "lang", "extracted_text")
      .select($"node", $"node".as("component"), $"url", $"warc_ts", $"lang",
        when(length($"extracted_text") > 0, length($"extracted_text")).as("__text_len"))
    val labels = labeled.select($"node", $"component")
    val noDecisions = Seq.empty[(Long, Long, Double, String, String)]
      .toDF("node_a", "node_b", "exact_jaccard", "decision", "tier")
    val base = GraftConfig.default
    val cfgs = Seq(
      base,
      base.copy(cluster = base.cluster.copy(maxMemberList = 1)),
      base.copy(cluster = base.cluster.copy(warcDateCriterion = true, maxDistinctDates = 0)),
      base.copy(cluster = base.cluster.copy(maxClusterSize = 0)))
    for (cfg <- cfgs) {
      val agg = Synthesis.clusterQuality(Synthesis.clusters(labeled, cfg), labels, noDecisions, cfg)
      val single = Synthesis.singletonClusters(labeled, cfg)
      assert(single.columns.toSeq == agg.columns.toSeq)
      assert(single.schema.map(_.dataType) == agg.schema.map(_.dataType))
      def asJson(df: org.apache.spark.sql.DataFrame) =
        df.select(to_json(struct(df.columns.map(col): _*))).as[String].collect().sorted.toSeq
      val want = asJson(agg)
      assert(want.size == rows.size)
      assert(asJson(single) == want, s"cluster config ${cfg.cluster}")
    }
  }
}
