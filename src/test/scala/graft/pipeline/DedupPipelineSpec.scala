package graft.pipeline

import graft.SparkSpec
import graft.config.GraftConfig
import graft.datagen.PagesGen
import graft.functions.TextFunctions
import graft.operators.SuffixOverlap
import org.apache.spark.sql.functions._

/** End-to-end pipeline gates (SURVEY.md §5 layer 3 / BASELINE.md targets):
  * planted-truth dup-pair recall ≥ 0.99, byte-identical extraction,
  * overlap-tier detection, singleton preservation, resume-from-checkpoint.
  */
class DedupPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val N = 1500L
  private lazy val cfg = GraftConfig.default
  private lazy val pages = PagesGen.pages(spark, N).toDF.cache()
  private lazy val truth = PagesGen.truthPairs(spark, N).toDF.cache()
  private lazy val pipeline = new DedupPipeline(spark, cfg)
  private lazy val result = pipeline.runAll(pages)

  // later suites share this session: leave its CacheManager as found
  override def afterAll(): Unit =
    try {
      pipeline.unpersistAll()
      pages.unpersist()
      truth.unpersist()
    } finally super.afterAll()

  test("extraction invariant: extract(html) == normalize(text) for every url") {
    val mismatches = pages
      .select(
        TextFunctions.extractText($"html").as("from_html"),
        TextFunctions.normalizeText($"text").as("from_text"))
      .where(!($"from_html" <=> $"from_text")) // null-safe: a NULL extraction
      .count()                                   // must COUNT as a mismatch
    assert(mismatches == 0)
  }

  test("extraction is deterministic across runs (byte-identity per url)") {
    val a = new DedupPipeline(spark, cfg).extracted(pages)
      .select($"url", xxhash64($"extracted_text").as("h"))
    val b = new DedupPipeline(spark, cfg).extracted(pages.repartition(16))
      .select($"url", xxhash64($"extracted_text").as("h2"))
    assert(a.join(b, "url").where($"h" =!= $"h2").count() == 0)
  }

  test("dup-pair recall >= 0.99 against planted truth (BASELINE.json gate)") {
    val labels = result.labels // (node, component)
    val urlNode = pages.select($"url", xxhash64($"url").as("node"))
      .join(labels, "node")
      .select($"url", $"component")
    val samePairs = truth.where($"label" === "same")
    // LEFT joins: a truth pair whose node the labels stage LOST must count
    // as a miss (inner joins would shrink the denominator and hide it)
    val joined = samePairs
      .join(urlNode.toDF("url_a", "comp_a"), Seq("url_a"), "left")
      .join(urlNode.toDF("url_b", "comp_b"), Seq("url_b"), "left")
    val total = joined.count()
    val hit = joined.where($"comp_a".isNotNull && $"comp_a" === $"comp_b").count()
    assert(total > 100, s"expected substantial planted truth, got $total")
    val recall = hit.toDouble / total
    assert(recall >= 0.99, s"recall=$recall ($hit/$total)")
  }

  test("hard negatives are NOT merged (precision guard)") {
    val labels = result.labels
    val urlNode = pages.select($"url", xxhash64($"url").as("node"))
      .join(labels, "node").select($"url", $"component")
    val diff = truth.where($"label" === "different")
      .join(urlNode.toDF("url_a", "comp_a"), "url_a")
      .join(urlNode.toDF("url_b", "comp_b"), "url_b")
    val merged = diff.where($"comp_a" === $"comp_b").count()
    assert(merged == 0, s"$merged hard-negative pairs were merged")
  }

  test("long-exact-overlap pairs detected by the suffix tier") {
    val texts = result.extracted
      .select(xxhash64($"url").as("node"), $"extracted_text").as[(Long, String)]
    val overlaps = SuffixOverlap.verify(SuffixOverlap.candidates(texts, cfg), texts, cfg)
    val nodeUrl = pages.select(xxhash64($"url").as("node"), $"url")
    val found = overlaps
      .join(nodeUrl.toDF("node_a", "ua"), "node_a")
      .join(nodeUrl.toDF("node_b", "ub"), "node_b")
      .select(least($"ua", $"ub").as("url_a"), greatest($"ua", $"ub").as("url_b"))
    val want = truth.where($"label" === "overlap")
    val total = want.count()
    val hit = want.join(found, Seq("url_a", "url_b"), "left_semi").count()
    assert(total > 10, s"expected planted overlap pairs, got $total")
    assert(hit.toDouble / total >= 0.99, s"overlap recall = $hit/$total")
  }

  test("singletons survive as their own clusters") {
    val n = pages.count()
    val labelCount = result.labels.count()
    assert(labelCount == n, s"every page labeled: $labelCount != $n")
    val clusters = result.canonicals
    assert(clusters.where($"source_count" === 1).count() > n / 2)
  }

  test("canonicals: member counts sum to page count; canonical_url is min member") {
    val canon = result.canonicals
    val sumMembers = canon.agg(sum($"source_count")).as[Long].collect()(0)
    assert(sumMembers == pages.count())
    val bad = canon.where($"canonical_url" =!= array_min($"member_urls")).count()
    assert(bad == 0)
  }

  /** The pipeline's canonicals against the one-call oracle (every row
    * through the cluster aggregate, then the quality join), as multisets of
    * rows with every column, `field_provenance` included, as JSON.
    */
  private def assertCanonicalsMatchOracle(r: DedupResult): Unit = {
    val labeled = r.extracted.select(xxhash64($"url").as("node"), $"*").join(r.labels, "node")
    val oracle = graft.operators.Synthesis.clusterQuality(
      graft.Oracles.canonicals(labeled, cfg), r.labels, r.decisions, cfg)
    def asJson(df: org.apache.spark.sql.DataFrame) =
      df.select(to_json(struct(oracle.columns.map(col): _*))).as[String].collect().sorted.toSeq
    val (got, want) = (asJson(r.canonicals), asJson(oracle))
    assert(r.canonicals.columns.toSet == oracle.columns.toSet)
    assert(got.size == want.size && got == want,
      s"${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
  }

  test("canonicals equal the all-aggregate oracle; singletons skip the cluster aggregate") {
    assertCanonicalsMatchOracle(result)
    val labels = result.labels
    val multi = labels.groupBy("component").count().where($"count" > 1).count()
    val single = labels.groupBy("component").count().where($"count" === 1).count()
    assert(multi > 10 && single > 10, s"$multi multi-member and $single singleton clusters")
    // urls are unique, so the clusters stage splits on the match edges
    val plan = pipeline.computedStage("clusters").queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti") && plan.contains("LeftSemi"), plan)
  }

  test("clusters on a mostly-singleton corpus shuffles only multi-member rows") {
    // every component used to cross the aggregate's shuffle as one partial
    // buffer: here about 90 bytes per component
    val p = new DedupPipeline(spark, cfg)
    try {
      val ext = p.extracted(pages)
      val sigs = p.signatures(ext)
      val decs = p.decisions(p.candidates(sigs), sigs, ext)
      val lbls = p.labels(sigs, decs)
      val sizes = lbls.groupBy("component").count().as[(Long, Long)].collect().map(_._2)
      val (components, singletons) = (sizes.length, sizes.count(_ == 1))
      assert(singletons * 2 > components, s"$singletons singletons of $components components")
      val (_, bytes, _) = org.apache.spark.graft.ShuffleAndBlocks(spark.sparkContext)(
        p.clusters(lbls, ext, Some(decs)))
      assert(bytes < 30L * components,
        s"clusters wrote $bytes shuffle bytes for $components components")
    } finally p.unpersistAll()
  }

  test("a url ingested twice: one label row, one canonical per cluster, longest text wins") {
    // 40 PagesGen pages plus two urls ingested twice, with unrelated texts
    // so each is its cluster's text winner: `a` as a short and a longer
    // recrawl, `b` as two different texts of one length
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val ts = new java.sql.Timestamp(1735689600000L)
    def page(url: String, text: String) =
      graft.datagen.Page(url, ts, PagesGen.htmlOf(url, text, "en"), text, "en")
    val (a, b) = ("https://dup.example/a", "https://dup.example/b")
    val (shortA, tieB) = (words("alpha", 60), words("bravo", 60))
    val input = PagesGen.pages(spark, 40L).toDF().union(Seq(
      page(a, shortA), page(a, shortA + " " + words("tail", 20)),
      page(b, tieB + " zz"), page(b, tieB + " zy")).toDF())
    val dir = java.nio.file.Files.createTempDirectory("graft-dup-url").toString
    val plain = new DedupPipeline(spark, cfg)
    try {
      for (p <- Seq(plain, new DedupPipeline(spark, cfg, Some(dir)))) {
        val r = p.runAll(input)
        val labels = r.labels
        assert(labels.count() == 42L && labels.select("node").distinct().count() == 42L)
        val canon = r.canonicals
        assert(canon.agg(sum($"source_count")).as[Long].head() == 44L)
        assert(canon.count() == labels.select("component").distinct().count(),
          "one canonical row per cluster")
        assert(canon.select("component").distinct().count() == canon.count())
        // the longest version wins; a same-length tie goes to the max text
        def winner(url: String) = r.extracted.where($"url" === url)
          .select("extracted_text").as[String].collect().maxBy(t => (t.length, t))
        def textOf(url: String) = canon.where(element_at($"field_provenance", "text") === url)
          .select("text").as[String].collect().toSeq
        assert(textOf(a) == Seq(winner(a)) && winner(a).contains("tail"))
        assert(textOf(b) == Seq(winner(b)) && winner(b).endsWith("zz"))
        assertCanonicalsMatchOracle(r)
      }
      // 44 extracted rows over 42 labels: the fetch keeps the per-url dedupe
      assert(plain.computedStage("canonicals").queryExecution.executedPlan.toString
        .contains("max_by"))
      // and every row goes through the cluster aggregate: no singleton split
      assert(!plain.computedStage("clusters").queryExecution.executedPlan.toString
        .contains("LeftAnti"))
    } finally plain.unpersistAll()
  }

  test("decision stats expose tiers (reference tier concept)") {
    val stats = result.decisions.groupBy("decision", "tier").count()
      .as[(String, String, Long)].collect()
    assert(stats.map(_._1).contains("match"))
  }

  test("stage memo is thread-safe: concurrent requests share ONE computation") {
    // two threads requesting the same stage on one pipeline instance must
    // get the SAME memoized frame (single compute, no map corruption) —
    // the per-instance concurrency posture the synchronized memo pins
    val p = new DedupPipeline(spark, cfg)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val outs = new java.util.concurrent.ConcurrentLinkedQueue[(AnyRef, Long)]()
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val threads = (1 to 2).map { _ =>
      val t = new Thread(() => {
        try {
          barrier.await()
          val e = p.extracted(pages)
          outs.add((e, e.count()))
        } catch { case t: Throwable => errs.add(t) }
      })
      t.setDaemon(true) // a hung worker must not outlive the suite
      t
    }
    try {
      threads.foreach(_.start())
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"concurrent stage access threw: $errs")
      assert(outs.size == 2, s"a thread hung: $outs")
      val res = Array.ofDim[(AnyRef, Long)](2)
      res(0) = outs.poll(); res(1) = outs.poll()
      assert(res(0)._1 eq res(1)._1, "memo must return the one shared stage frame")
      assert(res(0)._2 == res(1)._2 && res(0)._2 == N,
        s"concurrent counts diverged: ${res.map(_._2).toSeq}")
    } finally p.unpersistAll() // even on failure: don't leak persisted stages
  }

  test("pipeline resumes from checkpoint: identical labels, stages skipped") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val p1 = new DedupPipeline(spark, cfg, Some(dir))
    val r1 = p1.runAll(pages)
    val labels1 = r1.labels.as[(Long, Long)].collect().toMap
    // second pipeline over the same workDir must read back, not recompute
    val ck = new Checkpoints(spark, dir, cfg.configHash)
    assert(ck.isComplete("extracted") && ck.isComplete("signatures") &&
      ck.isComplete("candidates") && ck.isComplete("decisions") &&
      ck.isComplete("labels") && ck.isComplete("canonicals"))
    val p2 = new DedupPipeline(spark, cfg, Some(dir))
    val labels2 = p2.runAll(pages).labels.as[(Long, Long)].collect().toMap
    assert(labels1 == labels2)
    assert(ck.stageRows().get("extracted").contains(pages.count()))
    // a config change invalidates checkpoints
    val cfg2 = cfg.copy(lsh = cfg.lsh.copy(jaccardThreshold = 0.7))
    val ck2 = new Checkpoints(spark, dir, cfg2.configHash)
    assert(!ck2.isComplete("decisions"))
  }

  test("checkpoints work with a scheme-qualified file: URI workDir (Hadoop FS seam)") {
    val local = java.nio.file.Files.createTempDirectory("graft-ckpt-uri")
    val dir = local.toUri.toString.stripSuffix("/") // "file:///..." form
    val ck = new Checkpoints(spark, dir, cfg.configHash)
    val out = ck.stage("s_uri") { pages.limit(7).select($"url") }
    assert(out.count() == 7)
    assert(ck.isComplete("s_uri"))
    assert(ck.stageRows() == Map("s_uri" -> 7L))
    // meta sidecar landed on the target filesystem next to the data
    assert(java.nio.file.Files.exists(local.resolve("s_uri__meta.json")))
  }

  test("checkpoint crash-consistency: stage data without meta is recomputed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val ck = new Checkpoints(spark, dir, cfg.configHash)
    ck.stage("s1") { pages.limit(10).select($"url") }
    assert(ck.isComplete("s1"))
    // simulate a crash between data write and meta write: delete only meta
    java.nio.file.Files.delete(java.nio.file.Paths.get(s"$dir/s1__meta.json"))
    assert(!ck.isComplete("s1")) // incomplete → the stage will recompute
    val again = ck.stage("s1") { pages.limit(10).select($"url") }
    assert(again.count() == 10 && ck.isComplete("s1"))
  }

  test("stage memoization is bound to one input: a second corpus fails fast") {
    val p = new DedupPipeline(spark)
    val corpusA = PagesGen.pages(spark, 20L).toDF()
    val corpusB = spark.range(100L, 120L).map(id => PagesGen.pageOf(42L, id)).toDF()
    p.extracted(corpusA).count()
    val e = intercept[IllegalArgumentException](p.extracted(corpusB))
    assert(e.getMessage.contains("different input"))
    p.unpersistAll()
  }

  test("unpersistAll releases every stage cache") {
    // the leaf a stage returns owns no cache entry; the persisted frame
    // behind it does, and that is what unpersistAll must release
    spark.catalog.clearCache()
    val p = new DedupPipeline(spark, cfg)
    val r = p.runAll(PagesGen.pages(spark, 200L).toDF())
    assert(r.canonicals.count() > 0)
    assert(!spark.sharedState.cacheManager.isEmpty)
    p.unpersistAll()
    assert(spark.sharedState.cacheManager.isEmpty, "a stage cache survived unpersistAll")
  }
}
