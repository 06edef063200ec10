package graft.operators

import graft.SparkSpec
import graft.config.GraftConfig
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.functions._

class MinHashLshSpec extends SparkSpec {
  import spark.implicits._

  private def sigsOf(docs: Seq[(Long, String)], cfg: GraftConfig): org.apache.spark.sql.DataFrame =
    MinHashLsh.signatures(
      docs.toDF("doc_id", "extracted_text").withColumn("url", col("doc_id")), cfg)
      .withColumn("node", col("doc_id"))

  test("LSH finds high-jaccard pairs, skips unrelated docs") {
    val cfg = GraftConfig.default
    val base = (1 to 120).map(i => s"w$i").mkString(" ")
    val near = (1 to 120).map(i => if (i == 60) "swapped" else s"w$i").mkString(" ")
    val docs = Seq((1L, base), (2L, near), (3L, (1000 to 1120).map(i => s"z$i").mkString(" ")))
    val sigs = sigsOf(docs, cfg)
    val pairs = MinHashLsh.fusedCandidates(sigs, cfg)
    val verified = MinHashLsh.verify(pairs, sigs)
      .where(col("exact_jaccard") >= cfg.lsh.jaccardThreshold)
      .select("node_a", "node_b").as[(Long, Long)].collect().toSet
    assert(verified == Set((1L, 2L)))
  }

  // 300 identical docs with maxBucketSize 50 → every band bucket is hot →
  // star candidates only for them; doc 900 shares no bucket
  private val megaCfg = GraftConfig.default.copy(lsh = GraftConfig.default.lsh.copy(maxBucketSize = 50))
  private val megaDocs = {
    val text = (1 to 80).map(i => s"boiler$i").mkString(" ")
    (1L to 300L).map(id => (id, text)) :+ (900L, (1 to 80).map(i => s"other$i").mkString(" "))
  }

  test("mega-bucket star handling: huge exact-dup bucket still fully clustered") {
    // CC must still recover ONE 300-member cluster from the star candidates
    val cfg = megaCfg
    val sigs = sigsOf(megaDocs, cfg)
    val cands = MinHashLsh.fusedCandidates(sigs, cfg)
    // star fan-out is linear, not quadratic
    val nCands = cands.count()
    assert(nCands < 5000, s"expected O(n) candidates, got $nCands")
    assert(cands.where(col("cand_tier") === "star").count() > 0)
    val verified = MinHashLsh.verify(cands, sigs)
      .where(col("exact_jaccard") >= cfg.lsh.jaccardThreshold)
    val edges = verified.select(col("node_a").as("src"), col("node_b").as("dst"))
    val labels = ConnectedComponents.labelsWithSingletons(sigs.select(col("node")), edges)
      .as[(Long, Long)].collect().toMap
    assert((1L to 300L).forall(labels(_) == 1L), "mega exact-dup cluster must survive the cap")
    assert(labels(900L) == 900L)
  }

  test("lshCandidates and fusedCandidates' lsh tier read the same band keys") {
    // the mega-bucket fixture plus two cold near-dup pairs: hot buckets are
    // dropped by one and starred by the other, the cold pairs are 'lsh' in both
    val near = (1 to 120).map(i => s"w$i")
    val docs = megaDocs ++ Seq((1001L, near.mkString(" ")),
      (1002L, near.updated(59, "swapped").mkString(" ")),
      (1003L, near.map(_ + "q").mkString(" ")), (1004L, near.map(_ + "q").mkString(" ")))
    val sigs = sigsOf(docs, megaCfg)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("node_a", "node_b").as[(Long, Long)].collect().toSet
    val lsh = pairs(MinHashLsh.lshCandidates(sigs, megaCfg))
    assert(lsh.contains((1001L, 1002L)) && lsh.contains((1003L, 1004L)), s"cold pairs missing: $lsh")
    assert(lsh == pairs(MinHashLsh.fusedCandidates(sigs, megaCfg).where(col("cand_tier") === "lsh")))
  }

  test("fusedCandidates is the union of lshCandidates and simHashCandidates, min tier wins") {
    // no bucket reaches the default cap, so nothing is starred or dropped.
    // 1/2: near-dups, both tiers; 3/4: the same words reversed, so SimHash
    // (a bag of tokens) is equal but no 3-word shingle and so no band key
    // is shared — a simhash-only pair; 5: unrelated
    val cfg = GraftConfig.default
    val words = (1 to 120).map(i => s"w$i")
    val perm = (1 to 90).map(i => s"p$i")
    val docs = Seq((1L, words.mkString(" ")), (2L, words.updated(59, "swapped").mkString(" ")),
      (3L, perm.mkString(" ")), (4L, perm.reverse.mkString(" ")),
      (5L, (1 to 100).map(i => s"z$i").mkString(" ")))
    val sigs = sigsOf(docs, cfg)
    def tiered(df: org.apache.spark.sql.DataFrame, tier: String) =
      df.select("node_a", "node_b").as[(Long, Long)].collect().map { case (a, b) => (a, b, tier) }.toSet
    val lsh = tiered(MinHashLsh.lshCandidates(sigs, cfg), "lsh")
    val sim = tiered(MinHashLsh.simHashCandidates(sigs, cfg), "simhash")
    val fused = MinHashLsh.fusedCandidates(sigs, cfg)
      .select("node_a", "node_b", "cand_tier").as[(Long, Long, String)].collect()
    assert(fused.length == fused.toSet.size, "fused pairs must be deduped")
    assert(!lsh.contains((3L, 4L, "lsh")) && sim.contains((3L, 4L, "simhash")),
      s"3/4 must be a simhash-only pair: lsh=$lsh sim=$sim")
    assert(lsh.contains((1L, 2L, "lsh")))
    val union = (lsh ++ sim).groupBy(p => (p._1, p._2)).values.map(_.minBy(_._3)).toSet
    assert(fused.toSet == union)
  }

  test("est_jaccard over the fused signature's minhash tracks exact jaccard") {
    val cfg = GraftConfig.default
    val base = (1 to 200).map(i => s"t$i").mkString(" ")
    val variant = (1 to 200).map(i => if (i % 17 == 0) s"x$i" else s"t$i").mkString(" ")
    def sig(c: String) = graft.functions.Hashing.docSignature(col(c),
      cfg.lsh.shingleSize, cfg.lsh.numHashes, cfg.lsh.seed, cfg.simhash.seed)
    val (est, exact) = Seq((base, variant)).toDF("a", "b")
      .select(sig("a").as("sa"), sig("b").as("sb"))
      .select(graft.Oracles.estJaccard(col("sa.minhash"), col("sb.minhash"), cfg.lsh.numHashes),
        MinHashLsh.exactJaccard(col("sa.shingles"), col("sb.shingles")))
      .as[(Double, Double)].collect()(0)
    assert(math.abs(est - exact) < 0.15, s"est=$est exact=$exact")
  }

  test("hotBuckets is exact at the cap boundary and across thin partition spread") {
    // keys: 100 → count cap+1 (hot), 200 → count exactly cap (NOT hot),
    // 300 → count 1. Rows are spread round-robin over many partitions so
    // every partition-local count sits far below the cap — the pigeonhole
    // pass-1 bound (local ≥ ceil((cap+1)/m)) must still surface key 100,
    // and pass 2's exact recount must reject 200 despite it surviving
    // pass 1 alongside 100. Row i carries node 1000 - i, so each bucket's
    // minimum node is its last row's.
    val cap = 40
    val rows = (Seq.fill(cap + 1)(100L) ++ Seq.fill(cap)(200L) ++ Seq(300L))
    val df = spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (k, i) => (k, 1000L - i) }, 16).toDF("key", "node")
    def collected(c: Int) = MinHashLsh.hotBuckets(df, "key", c).map(_.as[(Long, Long)].collect().toSet)
    assert(collected(cap).contains(Set((100L, 1000L - cap))),
      s"expected exactly {100 → ${1000L - cap}}, got ${collected(cap)}")
    // both keys still survive pass 1 at cap + 1, and the exact count drops both
    assert(collected(cap + 1).contains(Set.empty[(Long, Long)]))
    // no key clears the pass-1 bound: no hot plan at all, so callers
    // elide the hot join entirely
    assert(MinHashLsh.hotBuckets(df, "key", 1000).isEmpty)
  }

  test("hotBuckets with more partitions than the cap runs no job at build time") {
    // m = 16 > cap = 4: the pigeonhole bound ceil((cap+1)/m) falls to 1, so
    // a pass 1 would ship every one of the ~1,000 distinct keys to the
    // driver. Detection must instead plan one exact count over all keys,
    // with no survivor collect before it.
    val cap = 4
    val rows = Seq.fill(cap + 1)(7L) ++ (1000L until 2000L)
    val df = spark.sparkContext.parallelize(
      rows.zipWithIndex.map { case (k, i) => (k, 5000L - i) }, 16).toDF("key", "node")
    val (hot, jobs) = JobCount(spark.sparkContext)(MinHashLsh.hotBuckets(df, "key", cap))
    assert(jobs == 0, s"building the hot-bucket plan ran $jobs jobs")
    val got = hot.map(_.as[(Long, Long)].collect().toSet)
    assert(got.contains(Set((7L, 5000L - cap))), s"expected exactly {7 → ${5000L - cap}}, got $got")
  }

  test("building a candidate plan runs pass 1 of hot-bucket detection only") {
    // the key frame is the union of band and block keys: twice the
    // partitions of the signatures
    val sigs = sigsOf(megaDocs, megaCfg)
    val keyParts = 2 * sigs.rdd.getNumPartitions
    assert(keyParts <= megaCfg.lsh.maxBucketSize)
    val (_, jobs) = JobCount(spark.sparkContext)(MinHashLsh.fusedCandidates(sigs, megaCfg))
    assert(jobs == 1, s"building fusedCandidates ran $jobs jobs, pass 1 alone is 1")
    val smallCap = megaCfg.copy(lsh = megaCfg.lsh.copy(maxBucketSize = keyParts - 1))
    val (_, exactJobs) = JobCount(spark.sparkContext)(MinHashLsh.fusedCandidates(sigs, smallCap))
    assert(exactJobs == 0, s"with more key partitions than the cap, building ran $exactJobs jobs")
  }

  test("cold split and star read one hot-bucket aggregate: one shuffle, one broadcast") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
    val near = (1 to 120).map(i => s"w$i")
    val docs = megaDocs ++ Seq((1001L, near.mkString(" ")), (1002L, near.updated(59, "swapped").mkString(" ")))
    val cands = MinHashLsh.fusedCandidates(sigsOf(docs, megaCfg), megaCfg)
    val tiers = cands.select("cand_tier").distinct().as[String].collect().toSet
    assert(tiers == Set("lsh", "star"), s"both branches must run: $tiers")
    cands.collect()
    val plan = cands.queryExecution.executedPlan
    val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val hotOut = (o: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) => o.exists(_.name == "min_node")
    val broadcasts = helper.collect(plan) { case b: BroadcastExchangeExec if hotOut(b.output) => b }
    val reused = helper.collect(plan) { case r: ReusedExchangeExec if hotOut(r.output) => r }
    val keyShuffles = helper.collect(plan) {
      case s: ShuffleExchangeExec if (s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map(_.references.map(_.name).mkString) == Seq("key")
        case _ => false
      }) => s
    }
    assert(broadcasts.size == 1 && reused.nonEmpty && keyShuffles.size == 1,
      s"${broadcasts.size} hot broadcasts, ${reused.size} reused, ${keyShuffles.size} key shuffles:\n$plan")
  }
}
