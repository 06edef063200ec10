package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.config.GraftConfig
import graft.functions.TextFunctions
import graft.operators._

/** The flagship near-duplicate pipeline (SURVEY.md §3.1 Spark lifecycle):
  *
  *   pages → extracted → signatures → candidates → decisions → labels →
  *   clusters → canonicals
  *
  * Each stage optionally checkpoints (parquet data + a meta sidecar, see
  * [[Checkpoints]]) so a killed run resumes from the last complete stage —
  * the north_rule's resumability requirement. Stage boundaries are exactly
  * the shuffles: band/block self-joins, CC rounds, the final group-by.
  * In both modes a stage hands downstream a plan leaf (a parquet scan, or
  * a `LogicalRDD` over the persisted stage), so no plan carries its
  * upstream lineage.
  */
final class DedupPipeline(
    spark: SparkSession,
    cfg: GraftConfig = GraftConfig.default,
    workDir: Option[String] = None,
    // Extra checkpoint-identity component beyond the config hash — callers
    // that reuse one checkpoint dir across INPUT batches (RunDedup) fold an
    // input fingerprint in here, so a changed input invalidates the stages
    // instead of silently replaying the previous batch's checkpoints.
    ckptKeyExtra: String = ""
) {
  /** Full checkpoint identity: config hash, plus the caller's input key. */
  private val checkpointKey: String =
    if (ckptKeyExtra.isEmpty) cfg.configHash else s"${cfg.configHash}-$ckptKeyExtra"

  private val ckpt = workDir.map(new Checkpoints(spark, _, checkpointKey))

  /** One record per stage this pipeline made: the leaf it hands
    * downstream, the input plans it was made from, the persisted frame
    * behind the leaf, and the row count, known without a Spark job when
    * the leaf is made (the checkpoint meta's `rows`, or the filled cache's
    * measured count).
    *
    * Without a checkpoint dir every stage is persisted: each one feeds
    * multiple downstream branches (extracted ×3, signatures ×3, decisions
    * via settled/ambiguous unions) and the recompute blow-up is
    * multiplicative. The leaf is a plan over the persisted data
    * ([[org.apache.spark.sql.graftbridge.Bridge.planLeaf]]): its plan is
    * built and planned once, and no downstream plan analyzes, plans or
    * prints it again. `persisted` owns the cache entry (unpersisting a
    * leaf releases nothing). With a checkpoint dir the parquet read-back
    * is the leaf and nothing is persisted.
    */
  private final class StageRecord(val leaf: DataFrame,
      val inputs: Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan],
      val persisted: Option[DataFrame], val rows: Option[Long])

  // Keyed by stage NAME: one pipeline instance serves ONE corpus, so a
  // stage re-invoked with a different input fails fast — the silent
  // alternative returns corpus A's stage for corpus B.
  private val stages = scala.collection.mutable.HashMap.empty[String, StageRecord]

  // synchronized (reentrant, so stages computing other stages in one
  // thread still work): two threads sharing one pipeline instance must not
  // race the record map or compute one stage twice. The ONE coarse
  // monitor deliberately serializes even different-stage computes:
  // single-flight correctness over a parallelism no pipeline use case
  // needs (stages form one dependency chain; per-name single-flight
  // futures would buy nothing but complexity here)
  private def stage(name: String, inputs: DataFrame*)(compute: => DataFrame): DataFrame = stages.synchronized {
    val plans = inputs.map(_.queryExecution.analyzed)
    stages.get(name) match {
      case Some(r) =>
        require(r.inputs.length == plans.length &&
          r.inputs.lazyZip(plans).forall((a, b) => a.sameResult(b)),
          s"DedupPipeline stage '$name' was already computed for a different " +
            "input — stage results are memoized per instance; build a new " +
            "DedupPipeline for a new corpus")
        r.leaf
      case None =>
        val r = ckpt match {
          case Some(c) =>
            val (leaf, rows) = c.stage(name)(compute)
            new StageRecord(leaf, plans, None, Some(rows))
          case None =>
            val df = compute.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            val leaf =
              try org.apache.spark.sql.graftbridge.Bridge.planLeaf(df)
              catch { case e: Throwable => df.unpersist(false); throw e }
            new StageRecord(leaf, plans, Some(df),
              leaf.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong))
        }
        stages(name) = r
        r.leaf
    }
  }

  /** The plan a no-checkpoint stage computed and persisted — not the leaf
    * it handed downstream — for plan audits.
    */
  private[graft] def computedStage(name: String): DataFrame =
    stages.synchronized(stages(name).persisted.get)

  /** The row count of every stage this pipeline made. Runs no Spark job. */
  private[graft] def stageRowCounts: Map[String, Long] =
    stages.synchronized(stages.flatMap { case (name, r) => r.rows.map(name -> _) }.toMap)

  /** Release persisted stage data (no-checkpoint mode). */
  def unpersistAll(): Unit = stages.synchronized {
    stages.values.flatMap(_.persisted).foreach(_.unpersist(false))
    stages.clear()
  }

  /** Extraction: html bytes → normalized text (byte-identical per url). */
  def extracted(pages: DataFrame): DataFrame = stage("extracted", pages) {
    pages.select(
      col("url"),
      col("warc_ts"),
      col("lang"),
      TextFunctions.extractText(col("html")).as("extracted_text")
    )
  }

  /** Signature stage, projected to what downstream consumers read.
    * `extracted_text`/`warc_ts`/`lang` already live in the `extracted`
    * stage; persisting them again here would double the cached bytes and
    * the scan bandwidth of every consumer (candidate join, verify ×2,
    * vertex universe) — on one box memory bandwidth is the scaling ceiling.
    *
    * The shingle array is persisted: it is a free byproduct of the fused
    * sketch (DocSignature computes it on the way to the minhash), and
    * measured at 1M docs re-deriving it at verify time costs more CPU than
    * the cache write saves in bandwidth — instead the verify JOIN prunes
    * its shuffle to candidate-pair nodes only ([[decisions]]), which is
    * where the corpus-wide shingle bytes actually moved.
    */
  def signatures(extractedDf: DataFrame): DataFrame = stage("signatures", extractedDf) {
    MinHashLsh.signatures(extractedDf, cfg)
      .select(col("url"), col("node"), col("shingles"), col("band_keys"), col("simhash"))
  }

  /** Candidate pairs from the fused MinHash-band + SimHash-block join,
    * deduped with tier priority lsh > simhash (a pair found by both keeps
    * 'lsh'). One self-join instead of two — the band join is THE dominant
    * shuffle at scale.
    */
  def candidates(sigs: DataFrame): DataFrame = stage("candidates", sigs) {
    MinHashLsh.fusedCandidates(sigs, cfg)
  }

  /** Decisions in two tiers. Tier-1 (Jaccard thresholds) is persisted as its
    * own stage: three branches read it (ambiguous pairs, the settled/ambiguous
    * split inside resolveAmbiguous) and each re-run would repeat the
    * shingle-array verify join — the most expensive per-pair work.
    *
    * Tier-2 ([[Decisions.resolveAmbiguous]]) reads text **only for the
    * ambiguous band**: one pruned text fetch feeds both the exact-text and
    * the suffix-automaton LCS verdict, so no text outside the band crosses
    * a join, and at 10^12 docs a corpus-wide fingerprint shuffle would
    * dwarf the band join. Direct LCS on the ambiguous pairs is also
    * strictly more exact than the sampled fingerprint candidate pass (no
    * content-sampling misses); the corpus-wide fingerprint path,
    * [[SuffixOverlap.candidates]], serves syndication scans (q21).
    */
  def decisions(cands: DataFrame, sigs: DataFrame, extractedDf: DataFrame): DataFrame = {
    val tier1 = stage("tier1_decisions", cands, sigs) {
      // Semi-join reduction on the verify join: the two node-equi-joins
      // would otherwise shuffle EVERY doc's shingle array (the widest
      // per-doc payload) even though only candidate-pair nodes can match —
      // the explicit form of the runtime semi-join reduction Spark doesn't
      // inject here ([[MinHashLsh.pruneToPairNodes]]).
      val shingleSide = MinHashLsh.pruneToPairNodes(
        sigs.select(col("node"), col("url"), col("shingles")), cands)
      Decisions.decide(MinHashLsh.verify(cands, shingleSide), cfg)
    }
    stage("decisions", cands, sigs, extractedDf) {
      Decisions.resolveAmbiguous(tier1,
        extractedDf.select(MinHashLsh.nodeId(col("url")).as("node"), col("extracted_text")), cfg)
    }
  }

  /** Cluster labels over the full vertex universe (singletons preserved,
    * graph_cluster.py:65-66). The match edges are a subset of the
    * `decisions` rows, so that stage's row count, known without a job,
    * bounds them for [[ConnectedComponents.run]].
    */
  def labels(sigs: DataFrame, decisionsDf: DataFrame): DataFrame = stage("labels", sigs, decisionsDf) {
    val vertices = sigs.select(col("node"))
    val edges = Decisions.matchEdges(decisionsDf)
    ConnectedComponents.labelsWithSingletons(vertices, edges, stageRows("decisions", decisionsDf))
  }

  /** The narrow per-cluster table ([[Synthesis.clusters]]: canonical url,
    * winning url, counts, dates, langs, member list), enriched with the
    * cluster-quality columns of [[Synthesis.clusterQuality]] when decisions
    * are given. No text column: `__text_len` is projected BEFORE the labels
    * join, so text bytes cross neither the node join nor the per-cluster
    * aggregation shuffle.
    *
    * Only members of multi-member clusters are aggregated. With decisions
    * given and urls unique ([[urlsUnique]]), a row whose node is in no
    * match edge (`node_a` or `node_b` of a `match` decision, exactly the
    * edges `labels` ran connected components on) got no component label,
    * so its component is its own node and it is the only row there: it
    * becomes its cluster row by [[Synthesis.singletonClusters]], a
    * projection. The other rows go through the aggregate and
    * `clusterQuality`, and the two branches meet in a union. In a crawl
    * most components are singletons, so the aggregate's shuffle carries
    * only the few multi-member clusters. The quality join stays below the
    * union: above it, AQE can plan the union's shuffle on `component`
    * before it turns the join into a broadcast, and the singleton rows
    * then cross a shuffle after all.
    */
  def clusters(labelsDf: DataFrame, extractedDf: DataFrame,
      decisionsDf: Option[DataFrame] = None): DataFrame =
    stage("clusters", (Seq(labelsDf, extractedDf) ++ decisionsDf.toSeq): _*) {
    val labeled = extractedDf
      .select(MinHashLsh.nodeId(col("url")).as("node"), col("url"), col("warc_ts"), col("lang"),
        when(col("extracted_text").isNotNull && length(col("extracted_text")) > 0,
          length(col("extracted_text"))).as("__text_len"))
      .join(labelsDf, "node")
    decisionsDf match {
      case Some(dec) if urlsUnique(labelsDf, extractedDf) =>
        val edges = Decisions.matchEdges(dec)
        val matched = edges.select(col("src").as("node"))
          .union(edges.select(col("dst").as("node")))
        val multi = Synthesis.clusters(labeled.join(matched, Seq("node"), "left_semi"), cfg)
        Synthesis.clusterQuality(multi, labelsDf, dec, cfg).unionByName(
          Synthesis.singletonClusters(labeled.join(matched, Seq("node"), "left_anti"), cfg))
      case _ =>
        val agg = Synthesis.clusters(labeled, cfg)
        decisionsDf.fold(agg)(Synthesis.clusterQuality(agg, labelsDf, _, cfg))
    }
  }

  /** One canonical row per cluster: the [[clusters]] table with each
    * winner's text fetched from `extractedDf` ([[Synthesis.withText]]).
    *
    * `clusters` is a stage, so the fetch join sees it as a leaf with its
    * measured size: the planner broadcasts the small cluster table and
    * streams (url, extracted_text) from the extracted leaf past it — no
    * text byte crosses a shuffle or the driver. At web scale it plans a
    * sort-merge join that moves each text once.
    *
    * Only the members of multi-member clusters cross the `clusters`
    * aggregate's shuffle; each row in no match edge gets its cluster row
    * by projection (see [[clusters]]). Both branches yield the same
    * columns, so the fetch treats every cluster row alike.
    *
    * The fetch dedupes text versions per url only when a url can repeat
    * ([[urlsUnique]]). `clusters` is made first, like `tier1_decisions` in
    * [[decisions]], so a run that reads `canonicals` back from its
    * checkpoint still holds the `clusters` record.
    */
  def canonicals(labelsDf: DataFrame, extractedDf: DataFrame,
      decisionsDf: Option[DataFrame] = None): DataFrame = {
    val clustersDf = clusters(labelsDf, extractedDf, decisionsDf)
    stage("canonicals", (Seq(labelsDf, extractedDf) ++ decisionsDf.toSeq): _*) {
      Synthesis.withText(clustersDf, extractedDf, urlsUnique(labelsDf, extractedDf), cfg)
    }
  }

  /** Whether every url of `extractedDf` is unique, decided from the row
    * counts this pipeline already holds, with no Spark job: `labels` has
    * one row per distinct node (= per distinct url), so
    * `rows(extracted) == rows(labels)` means the urls are unique. False
    * when either count is unknown.
    */
  private def urlsUnique(labelsDf: DataFrame, extractedDf: DataFrame): Boolean =
    (for {
      e <- stageRows("extracted", extractedDf)
      l <- stageRows("labels", labelsDf)
    } yield e == l).getOrElse(false)

  /** The row count of stage `name` when `df` is the frame this pipeline
    * returned for it; None for any other frame. Runs no Spark job.
    */
  private def stageRows(name: String, df: DataFrame): Option[Long] =
    stages.get(name).filter(_.leaf eq df).flatMap(_.rows)

  /** Run end-to-end; returns the canonicals DataFrame. */
  def run(pages: DataFrame): DataFrame = runAll(pages).canonicals

  /** All intermediate stages, for tests/metrics. */
  def runAll(pages: DataFrame): DedupResult = {
    val ext = extracted(pages)
    val sigs = signatures(ext)
    val cands = candidates(sigs)
    val decs = decisions(cands, sigs, ext)
    val lbls = labels(sigs, decs)
    val canon = canonicals(lbls, ext, Some(decs))
    DedupResult(ext, sigs, cands, decs, lbls, canon)
  }
}

final case class DedupResult(
    extracted: DataFrame,
    signatures: DataFrame,
    candidates: DataFrame,
    decisions: DataFrame,
    labels: DataFrame,
    canonicals: DataFrame
)
