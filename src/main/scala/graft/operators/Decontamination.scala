package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing

/** Benchmark decontamination: flag training documents that share long
  * word n-grams with an evaluation ("benchmark") corpus — standard hygiene
  * for web-scale training pipelines (the GPT-3/PaLM-style 13-gram overlap
  * check, scaled down to configurable n).
  *
  * Reference analog: the ground-truth subset metrics that restrict pair
  * evaluation to rows carrying a key
  * (`/root/reference/src/event_dedup/evaluation/harness.py:344-377`) — here
  * the "key" is membership of any benchmark n-gram, and the mechanism is the
  * same explode→join→aggregate shape as the blocking-key index
  * (`matching/candidate_pairs.py:31-64`).
  *
  * Scale posture: n-grams travel as 64-bit hashes ([[Hashing.shingleHashes]]
  * — distinct per doc by construction, no gram strings materialized). The
  * benchmark side is small by nature (eval sets are ≪ the corpus), so the
  * join broadcasts; for a corpus-sized right side pass `broadcastBench =
  * false` and it becomes a plain shuffle semi-join. Never a driver
  * collection.
  */
object Decontamination {

  /** Distinct 64-bit hashes of word n-grams (whitespace tokenization).
    * Empty tokens are filtered AFTER the split rather than trimmed before
    * it: Spark's `trim` strips only ASCII spaces and `split` keeps
    * leading/trailing empty tokens, so text bounded by tabs/newlines would
    * otherwise emit phantom empty-string tokens — at n=1 every
    * newline-terminated doc would "share" the empty gram with every other,
    * and at higher n a trailing empty token lets an (n-1)-word overlap
    * masquerade as an n-gram hit. Null text and whitespace-only text both
    * reduce to zero tokens → no grams.
    */
  def ngramHashes(text: Column, n: Int, seed: Long = 42L): Column =
    Hashing.shingleHashes(
      graft.functions.TextFunctions.whitespaceTokens(text), n, seed)

  /** The benchmark's distinct gram-hash table: one row per distinct n-gram
    * across the whole benchmark corpus — `(gram_hash: long)`.
    */
  def benchmarkGrams(bench: DataFrame, textCol: String, n: Int, seed: Long = 42L): DataFrame =
    bench.select(explode(ngramHashes(col(textCol), n, seed)).as("gram_hash")).distinct()

  /** Per-document contamination report: `(idCol, n_hits)` for every document
    * sharing at least one n-gram with the benchmark; `n_hits` = number of
    * DISTINCT shared n-grams. Clean documents are absent (join semantics —
    * callers left-join if they want zeros).
    */
  def report(docs: DataFrame, idCol: String, textCol: String, benchGrams: DataFrame,
      n: Int, seed: Long = 42L, broadcastBench: Boolean = true): DataFrame = {
    val grams = docs.select(col(idCol), explode(ngramHashes(col(textCol), n, seed)).as("gram_hash"))
    val bench = if (broadcastBench) broadcast(benchGrams) else benchGrams
    grams.join(bench, "gram_hash").groupBy(idCol).agg(count(lit(1)).as("n_hits"))
  }
}
