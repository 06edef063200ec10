package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One generated input: the parquet the program reads, plus the planted
  * truth the output is checked against: each url's duplicate group, and
  * the hard negatives (decoys, near misses) that must stay apart.
  */
final case class Corpus(path: String, docs: Long, groupOf: Map[String, String],
    different: Seq[(String, String)])

object Corpus {
  /** Write ids [from, until) of `gen` as parquet and record their truth. */
  def write(spark: SparkSession, gen: MirrorGen, seed: Long, from: Long, until: Long,
      path: String): Corpus = {
    import spark.implicits._
    spark.range(from, until).map(id => gen.pageOf(seed, id)).toDF()
      .write.mode("overwrite").parquet(path)
    val ids = from until until
    val groups = ids.iterator.map(id => gen.urlOf(seed, id) -> gen.groupOf(seed, id)).toMap
    val different = for {
      t <- 0 until gen.templates
      other <- Seq(gen.decoyId(t), gen.nearMissId(t)) if other >= from && other < until
    } yield (gen.urlOf(seed, other), gen.urlOf(seed, gen.memberId(t, 0)))
    Corpus(path, until - from, groups, different)
  }
}

/** Outcome of checking one canonicals output against the planted truth. */
final case class Verdict(recall: Double, falseMergePairs: Long, differentMerged: Int,
    problems: Seq[String]) {
  def ok: Boolean = problems.isEmpty
}

object Truth {
  private def pairs(n: Long): Long = n * (n - 1) / 2

  /** Reads `canonical_url`, `source_count` and `member_urls` of the output.
    * Every doc must sit in exactly one cluster with a complete member list.
    * Recall is over all same-group pairs; a false merge is any pair of docs
    * from different planted groups that share a cluster.
    */
  def check(spark: SparkSession, outPath: String, corpus: Corpus): Verdict = {
    val rows = spark.read.parquet(outPath).select("source_count", "member_urls").collect()
    val problems = mutable.ArrayBuffer.empty[String]
    val clusterOf = mutable.HashMap.empty[String, Int]
    val perGroup = mutable.HashMap.empty[(Int, String), Long]
    var mergedPairs = 0L
    rows.zipWithIndex.foreach { case (r, c) =>
      val members = r.getSeq[String](1)
      if (members.size.toLong != r.getLong(0))
        problems += s"cluster $c lists ${members.size} of ${r.getLong(0)} members"
      mergedPairs += pairs(members.size.toLong)
      members.foreach { u =>
        if (clusterOf.put(u, c).isDefined) problems += s"$u is in two clusters"
        corpus.groupOf.get(u) match {
          case Some(g) => perGroup((c, g)) = perGroup.getOrElse((c, g), 0L) + 1
          case None => problems += s"unknown url $u in output"
        }
      }
    }
    if (clusterOf.size.toLong != corpus.docs)
      problems += s"output covers ${clusterOf.size} of ${corpus.docs} docs"
    val truthPairs = corpus.groupOf.values.groupBy(identity).values.map(g => pairs(g.size.toLong)).sum
    val hit = perGroup.values.map(pairs).sum
    val recall = if (truthPairs == 0) 1.0 else hit.toDouble / truthPairs
    val falseMerges = mergedPairs - hit
    val differentMerged = corpus.different.count { case (a, b) =>
      clusterOf.contains(a) && clusterOf.get(a) == clusterOf.get(b)
    }
    if (recall < 0.99) problems += f"dup_pair_recall $recall%.4f < 0.99"
    if (falseMerges > 0) problems += s"$falseMerges false-merge pairs"
    if (differentMerged > 0) problems += s"$differentMerged hard negatives merged"
    Verdict(recall, falseMerges, differentMerged, problems.take(5).toSeq)
  }
}
