package graft

import org.apache.spark.sql.functions._

/** Physical-plan audits: the plans we ship are the plans we mean
  * (SURVEY.md §4 — filters reach the scan, small sides broadcast, column
  * pruning holds, codegen spans cover the per-row stages).
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("q03: date-range predicates are pushed to the parquet scan") {
    val p = planOf("q03_date_range_agg")
    assert(p.contains("PushedFilters"), p.take(500))
    // the RANGE bounds themselves must reach the scan — IsNotNull alone
    // (which Spark pushes for any referenced column) would mask losing the
    // actual date-range pushdown
    assert(p.contains("GreaterThanOrEqual(o_orderdate") ||
      p.contains("GreaterThan(o_orderdate"),
      "expected the o_orderdate range bound pushed down:\n" + p.take(2000))
  }

  test("q01: column pruning — scan reads only the projected columns") {
    val p = planOf("q01_search_ilike")
    // documents has (doc_id, text, lang, source, n_chars); n_chars must NOT be read
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars"), "scan should prune n_chars:\n" + p.take(2000))
  }

  test("q02: IN-style OR filter is pushed down") {
    val p = planOf("q02_multi_or_filter")
    assert(p.contains("PushedFilters") &&
      (p.contains("Or(EqualTo(o_orderpriority") || p.contains("In(o_orderpriority")),
      p.take(2000))
  }

  test("q11: threshold sweep broadcasts the literal threshold table") {
    val p = planOf("q11_threshold_sweep")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("hot-key pruning uses a broadcast anti-join, not a shuffle") {
    // the bucket must actually be HOT or fusedCandidates elides the whole
    // pruning subplan (hotArr empty) and the audit is vacuous — 40
    // identical docs over maxBucketSize=10 forces it in
    val cfg0 = graft.config.GraftConfig.default
    val cfg = cfg0.copy(lsh = cfg0.lsh.copy(maxBucketSize = 10))
    val docs = spark.range(40L)
      .selectExpr("id AS url", "'a b c d e f g h i j' AS extracted_text")
    val sigs = graft.operators.MinHashLsh.signatures(docs, cfg)
    val cands = graft.operators.MinHashLsh.fusedCandidates(sigs, cfg)
    val p = cands.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "hot-key pruning must plan a broadcast LeftAnti join:\n" + p.take(3000))
  }

  test("fingerprint candidates plan no hot-key anti-join or fp count when nothing is hot") {
    val shared = (1 to 60).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"prefix one $shared suffix one"),
      (2L, s"different beginning $shared another ending"),
      (3L, "no overlap here at all just words " * 20)).toDS()
    val cands = graft.operators.SuffixOverlap.candidates(docs, graft.config.GraftConfig.default)
    val p = cands.queryExecution.executedPlan.toString
    assert(!p.contains("LeftAnti"), "no hot fingerprint, so no anti-join:\n" + p.take(3000))
    assert("""keys=\[fp#""".r.findFirstIn(p).isEmpty,
      "no corpus-wide count aggregation on fp:\n" + p.take(3000))
  }

  test("extraction + signature stage stays inside whole-stage codegen") {
    val pages = graft.datagen.PagesGen.pages(spark, 10L).toDF()
    val cfg = graft.config.GraftConfig.default
    val pipeline = new graft.pipeline.DedupPipeline(spark, cfg)
    pipeline.extracted(pages)
    val p = pipeline.computedStage("extracted").queryExecution.executedPlan.toString
    // "*(n)" marks a whole-stage-codegen span; the fused extraction
    // expressions must sit inside one, not fall back to interpreted eval
    val projLine = p.linesIterator.find(_.contains("normalize_text")).getOrElse("")
    assert(projLine.contains("*("), "extraction Project not codegen'd:\n" + p.take(2000))
  }

  test("signature stage evaluates the fused sketch exactly once per row") {
    val pages = graft.datagen.PagesGen.pages(spark, 10L).toDF()
    val cfg = graft.config.GraftConfig.default
    val p = new graft.pipeline.DedupPipeline(spark, cfg)
    p.signatures(p.extracted(pages))
    val plan = p.computedStage("signatures").queryExecution.executedPlan.toString
    // inline(array(doc_signature(...))) must survive as ONE Generate; four
    // GetStructField projections would re-run the sketch 4x per row
    val hits = "doc_signature".r.findAllIn(plan).size
    assert(hits == 1, s"expected one doc_signature in the plan, got $hits:\n" + plan.take(2000))
  }

  test("no-checkpoint stages hand downstream plan leaves: plans and plan text stay small") {
    // A persisted stage used to carry its whole lineage downstream: the
    // analyzed plan of decisions/canonicals ran to ~4,900 lines, and every
    // execution start and AQE update re-printed every upstream stage.
    val pages = graft.datagen.PagesGen.pages(spark, 400L).toDF()
    val out = java.nio.file.Files.createTempDirectory("graft_plan_leaf").toString
    val p = new graft.pipeline.DedupPipeline(spark, graft.config.GraftConfig.default)
    try {
      val (_, chars) = org.apache.spark.graft.PlanText(spark.sparkContext) {
        p.runAll(pages).canonicals.write.mode("overwrite").parquet(out)
      }
      val lines = Seq("extracted", "signatures", "candidates", "tier1_decisions",
        "decisions", "labels", "clusters", "canonicals").map { s =>
        s -> p.computedStage(s).queryExecution.analyzed.treeString.linesIterator.size
      }
      // at 400 docs leaf stages measure ≤ 73 lines per stage and about
      // 0.32 M chars per run; with the lineage carried, 2,849 and 28.2 M
      assert(lines.forall(_._2 <= 200), s"analyzed plan lines per stage: $lines")
      assert(chars <= 2000000L, s"plan description chars posted in one run: $chars")
    } finally p.unpersistAll()
  }

  /** The physical plan a no-checkpoint stage ran: the cached AQE plan,
    * final once the stage is computed.
    */
  private def cachedPlan(p: graft.pipeline.DedupPipeline, stage: String) =
    p.computedStage(stage).queryExecution.withCachedData.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder.cachedPlan
    }.getOrElse(fail(s"the $stage stage is not cached"))

  private object AQE extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  test("canonical text streams past the cluster table: no exchange carries the text") {
    // the winner-text fetch used to shuffle every text by url for a
    // dedupe, then broadcast the whole text side to the cluster rows
    val pages = graft.datagen.PagesGen.pages(spark, 400L).toDF()
    val p = new graft.pipeline.DedupPipeline(spark, graft.config.GraftConfig.default)
    try {
      p.runAll(pages)
      for (stage <- Seq("clusters", "canonicals")) {
        val plan = cachedPlan(p, stage)
        val carrying = AQE.collect(plan) {
          case e: org.apache.spark.sql.execution.exchange.Exchange
              if e.output.exists(_.name == "extracted_text") => e
        }
        assert(carrying.isEmpty, s"$stage: an exchange outputs extracted_text:\n$plan")
      }
      // urls are unique here: the fetch plans no per-url dedupe and so no
      // shuffle at all — the text streams from the extracted leaf
      val canon = cachedPlan(p, "canonicals")
      val shuffles = AQE.collect(canon) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty && !canon.toString.contains("max_by"),
        s"canonicals plan:\n$canon")
    } finally p.unpersistAll()
  }

  test("clusters stage: no exchange above the union; singleton rows cross no exchange") {
    // every row used to reach the output through the cluster aggregate's
    // shuffle; a quality join above the union let AQE shuffle the union
    val pages = graft.datagen.PagesGen.pages(spark, 400L).toDF()
    val p = new graft.pipeline.DedupPipeline(spark, graft.config.GraftConfig.default)
    try {
      p.runAll(pages)
      val plan = cachedPlan(p, "clusters")
      // the union of cluster rows, not the one of matched node ids
      def isClusterUnion(n: org.apache.spark.sql.execution.SparkPlan) =
        n.isInstanceOf[org.apache.spark.sql.execution.UnionExec] &&
          n.output.exists(_.name == "canonical_url")
      val unions = AQE.collect(plan) { case u if isClusterUnion(u) => u }
      assert(unions.size == 1, s"clusters plan:\n$plan")
      val above = AQE.collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange
            if AQE.find(e)(isClusterUnion).isDefined => e
      }
      assert(above.isEmpty, s"an exchange sits above the union:\n$plan")
      // the singleton branch: the one the anti join feeds. Its only
      // exchanges are broadcasts, the build sides of its joins
      val single = unions.head.children.filter(c => AQE.collect(c) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti => j
      }.nonEmpty)
      assert(single.size == 1, s"no anti-join branch under the union:\n$plan")
      val shuffles = AQE.collect(single.head) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.isEmpty, s"the singleton branch crosses a shuffle:\n$plan")
    } finally p.unpersistAll()
  }

  /** Runs the pipeline through `decisions` on 400 PagesGen docs plus three
    * pairs whose second page extends the first by 60 words (Jaccard about
    * 0.77, so tier 2 has ambiguous pairs to resolve), then releases its
    * caches.
    */
  private def withDecisionStages(body: graft.pipeline.DedupPipeline => Unit): Unit = {
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val ts = new java.sql.Timestamp(1735689600000L)
    def page(url: String, text: String) = graft.datagen.Page(url, ts,
      graft.datagen.PagesGen.htmlOf(url, text, "en"), text, "en")
    val extended = Seq("a", "b", "c").flatMap { t =>
      val base = words(s"${t}x", 200)
      Seq(page(s"https://amb.example/$t/1", base),
        page(s"https://amb.example/$t/2", base + " " + words(s"${t}y", 60)))
    }
    val pages = graft.datagen.PagesGen.pages(spark, 400L).toDF().union(extended.toDF())
    val p = new graft.pipeline.DedupPipeline(spark, graft.config.GraftConfig.default)
    try {
      val ext = p.extracted(pages)
      val sigs = p.signatures(ext)
      p.decisions(p.candidates(sigs), sigs, ext)
      body(p)
    } finally p.unpersistAll()
  }

  test("tier-1 verify evaluates the merge-count kernel inside whole-stage codegen") {
    withDecisionStages { p =>
      val plan = p.computedStage("tier1_decisions").queryExecution.executedPlan.toString
      assert(!plan.contains("array_intersect"), "exact Jaccard still builds a hash set:\n" + plan)
      // the cached plan prints its AQE final plan first, then the initial one
      val finalPlan = plan.split("== Initial Plan ==")(0)
      val kernel = finalPlan.linesIterator.filter(_.contains("sorted_intersect_size")).toSeq
      assert(kernel.nonEmpty && kernel.forall(_.contains("*(")),
        "sorted_intersect_size not inside a whole-stage codegen span:\n" + finalPlan)
    }
  }

  test("decisions stage: the initial (pre-AQE) plan holds no sort-merge join") {
    // the tier-2 has_overlap join used to start as a sort-merge join
    // (its verify branch is estimated as a join product) and AQE could
    // shuffle the stream side before switching it to a broadcast
    withDecisionStages { p =>
      val initial = cachedPlan(p, "decisions") match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
        case plan => plan
      }
      val text = initial.toString
      assert(text.contains("BroadcastHashJoin"), text)
      assert(!text.contains("SortMergeJoin"), "initial decisions plan:\n" + text)
    }
  }

  test("decisions stage: text crosses no shuffle and is broadcast only past the band-node prune") {
    // the text tier 2 reads must be band-sized, never the whole corpus
    withDecisionStages { p =>
      assert(p.computedStage("decisions").where($"tier" === "overlap").count() > 0,
        "the fixture must leave tier 2 a band to resolve")
      val plan = cachedPlan(p, "decisions")
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId}
      // the attributes that hold extracted_text, under any rename
      val renames = AQE.flatMap(plan)(_.expressions.flatMap(_.collect {
        case a @ Alias(r: AttributeReference, _) => r.exprId -> a.exprId
      }))
      def closure(ids: Set[ExprId]): Set[ExprId] = {
        val next = ids ++ renames.collect { case (from, to) if ids(from) => to }
        if (next == ids) ids else closure(next)
      }
      val text = closure(AQE.flatMap(plan)(_.output).filter(_.name == "extracted_text").map(_.exprId).toSet)
      val carrying = AQE.collect(plan) {
        case e: org.apache.spark.sql.execution.exchange.Exchange
            if e.output.exists(a => text(a.exprId)) => e
      }
      val shuffled = carrying.filter(_.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeLike])
      assert(shuffled.isEmpty, s"a shuffle outputs text:\n$plan")
      val unpruned = carrying.filterNot(e => AQE.collect(e) {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
      }.nonEmpty)
      assert(carrying.nonEmpty && unpruned.isEmpty,
        s"a text broadcast does not sit over the band-node prune:\n$plan")
    }
  }

  test("q05: offset/limit does not global-sort-materialize the full table") {
    val p = planOf("q05_sort_paginate")
    // must be the top-k operator — a full Sort + GlobalLimit is exactly the
    // regression this audit exists to catch, so GlobalLimit must not count
    assert(p.contains("TakeOrderedAndProject"),
      "expected TakeOrderedAndProject (top-k), not a global sort:\n" + p.take(2000))
  }

  test("decontamination joins the benchmark gram table via broadcast") {
    val docs = Seq((1L, "a b c d e f g h")).toDF("doc_id", "text")
    val grams = graft.operators.Decontamination.benchmarkGrams(docs, "text", n = 3)
    val p = graft.operators.Decontamination
      .report(docs, "doc_id", "text", grams, n = 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("bloom membership probe is a scan-local filter, not a join") {
    // spark.range (not a local Seq): ConvertToLocalRelation would fold a
    // LocalRelation filter at plan time and leave nothing to audit
    val corpus = spark.range(50)
      .select($"id".as("doc_id"), concat(lit("doc "), $"id").as("text"))
    val bloom = graft.operators.BloomDedup.buildBloom(corpus, xxhash64($"text"))
    val probed = corpus.where(
      graft.operators.BloomDedup.mightContain(bloom, xxhash64($"text")))
    val p = probed.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("Join"), "bloom probe must not plan a join:\n" + p.take(2000))
  }
}
