package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.functions.{toCol, toExpr}

/** Approximate-nearest-neighbor / embedding-similarity operators over an
  * `Array[Float]` embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; O(Q·N) — the small-Q or
  * small-N path). Scale path: random-hyperplane LSH bucketing — candidates
  * share a bucket key, exact cosine re-ranks within buckets; recall tunable
  * via number of hash tables. Embedding-cosine near-dup pairs reuse the
  * bucket join (same skew posture as the MinHash band join).
  */
object Similarity {

  /** Dot product of two float-array columns (sequential fold — deterministic). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Fused cosine: one pass over both arrays, no intermediate array
    * allocation (the declarative form builds a zipped array per pair and
    * folds it boxed — the dominant cost of every pairwise re-rank). Exactly
    * the declarative arithmetic (sequential sums, dot/(sqrt(na)*sqrt(nb))),
    * so results are bit-identical; differential-tested in SimilaritySpec.
    */
  def cosineFused(a: Column, b: Column): Column =
    toCol(CosineSimilarity(toExpr(a), toExpr(b)))

  /** Exact brute-force cosine top-k: for each row of `queries`, the k nearest
    * rows of `corpus` (excluding self by id). Deterministic tie-break on
    * neighbor id. Broadcast the query side — Q is small by contract.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec_c"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("vec_q"))
    val scored = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFused(col("vec_q"), col("vec_c")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Random-hyperplane LSH bucket keys: `tables` independent 16-bit sketches.
    * Two vectors with cosine θ collide in one table with prob (1-θ/π)^16.
    */
  def lshBuckets(vec: Column, tables: Int = 8, bitsPerTable: Int = 16, seed: Long = 42L): Column =
    toCol(CosineLshKeys(toExpr(vec), tables, bitsPerTable, seed))

  /** ANN via LSH buckets: candidates = bucket collisions in any table, exact
    * cosine re-rank, top-k per query. The scale path — no cross join.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      tables: Int = 8, bitsPerTable: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec_c"),
        explode(lshBuckets(col(vecCol), tables, bitsPerTable, seed)).as("bucket"))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("vec_q"),
        explode(lshBuckets(col(vecCol), tables, bitsPerTable, seed)).as("bucket"))
    val cands = cb.join(qb, "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("cosine", cosineFused(col("vec_q"), col("vec_c")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  // -------------------------------------------------------------------
  // IVF — the inverted-file coarse-quantizer scale path
  // -------------------------------------------------------------------

  /** Train IVF centroids: spherical k-means on a deterministic bounded
    * sample (hash-ordered — partitioning-independent). Driver-side by
    * design: the quantizer is nlist×dim floats and sample-training is the
    * standard IVF recipe; the CORPUS never leaves the executors.
    */
  def trainIvfCentroids(
      corpus: DataFrame, nlist: Int, iters: Int = 5,
      sampleCap: Int = 10000, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): Array[Array[Float]] = {
    val sample = corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .where(col("v").isNotNull) // null embeddings: dropped here like every
      .orderBy(xxhash64(col("id"), lit(seed)), col("id")) // bucket path drops them
      .limit(sampleCap)
      .select("v")
      .collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "cannot train IVF on an empty corpus")
    require(sample.forall(_.length == sample.head.length),
      s"IVF training sample mixes embedding dimensions (found " +
        s"${sample.map(_.length).distinct.sorted.mkString(",")}) — fix the corpus")
    kmeansSpherical(sample, nlist, iters, seed)
  }

  private def unitNorm(v: Array[Float]): Array[Float] = {
    var s = 0.0
    var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0) v.clone()
    else {
      val out = new Array[Float](v.length)
      i = 0
      while (i < v.length) { out(i) = (v(i) / n).toFloat; i += 1 }
      out
    }
  }

  /** Deterministic spherical k-means (Lloyd, fixed iterations, seeded init;
    * empty cells keep their previous centroid).
    */
  private def kmeansSpherical(
      xs: Array[Array[Float]], k: Int, iters: Int, seed: Long
  ): Array[Array[Float]] = {
    val vs = xs.map(unitNorm)
    val n = vs.length
    val dim = vs(0).length
    val kk = math.min(k, n)
    val rnd = new java.util.SplittableRandom(seed)
    val picked = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (picked.size < kk) picked += rnd.nextInt(n)
    var cents = picked.toArray.map(i => vs(i).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk)(new Array[Double](dim))
      val counts = new Array[Int](kk)
      var i = 0
      while (i < n) {
        val v = vs(i)
        var best = 0
        var bestDot = Double.NegativeInfinity
        var c = 0
        while (c < kk) {
          var d = 0.0
          var j = 0
          while (j < dim) { d += v(j).toDouble * cents(c)(j); j += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var j = 0
        while (j < dim) { sums(best)(j) += v(j); j += 1 }
        counts(best) += 1
        i += 1
      }
      cents = Array.tabulate(kk) { c =>
        if (counts(c) == 0) cents(c)
        else unitNorm(Array.tabulate(dim)(j => (sums(c)(j) / counts(c)).toFloat))
      }
      it += 1
    }
    cents
  }

  /** The `m` nearest IVF cells for a vector (by dot with unit centroids =
    * cosine order; ties → lower cell index).
    */
  def nearestCells(vec: Column, centroids: Array[Array[Float]], m: Int): Column =
    toCol(NearestCells(toExpr(vec), centroids.map(_.toSeq).toSeq, m))

  /** IVF ANN: corpus bucketed by nearest cell (ONE row per vector — index
    * size = corpus size, unlike the `tables`-way replicated LSH index);
    * queries probe their `nprobe` nearest cells; exact cosine re-ranks.
    * `nprobe = nlist` degenerates to exact brute force — the recall/cost
    * dial is explicit. The cell join shares the skew posture of every
    * bucket join here (cells are bounded by k-means balance; a pathological
    * cell is an AQE skew-join case, not a correctness issue).
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, iters: Int = 5,
      sampleCap: Int = 10000, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"
  ): DataFrame = {
    val cents = trainIvfCentroids(corpus, nlist, iters, sampleCap, seed, idCol, vecCol)
    val cb = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec_c"),
      element_at(nearestCells(col(vecCol), cents, 1), 1).as("cell"))
    val qb = queries.select(col(idCol).as("query_id"), col(vecCol).as("vec_q"),
      explode(nearestCells(col(vecCol), cents, math.min(nprobe, cents.length))).as("cell"))
    // no dedup needed (unlike lshTopK's multi-table collisions): each
    // corpus vector sits in exactly ONE cell and a query's probed cells are
    // distinct, so a (query, neighbor) pair matches on at most one cell —
    // a dropDuplicates here would be a full extra shuffle for zero effect
    val cands = cb.join(qb, "cell")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosineFused(col("vec_q"), col("vec_c")))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    cands.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "cosine")
  }

  /** Embedding-cosine near-duplicate pairs: bucket join + exact cosine ≥
    * threshold, canonical pair order. Hot buckets (> maxBucketSize members
    * — mass-duplicated vectors landing one bucket in every table) are
    * dropped by the guard every bucket join shares
    * ([[MinHashLsh.splitHotBuckets]]): without the cap a corpus of ~1M
    * identical pages enumerates ~tables·N² join rows. Pass
    * `maxBucketSize = Int.MaxValue` for provably-exhaustive semantics
    * (the degenerate single-bucket oracle configs do).
    * Not [[MinHashLsh.keyPairs]]: pairs carry both vectors through the
    * dedupe, and joining them back after a key-only dedupe adds two joins.
    */
  def nearDupPairs(
      corpus: DataFrame, threshold: Double,
      tables: Int = 8, bitsPerTable: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 2000
  ): DataFrame = {
    val b = corpus.select(col(idCol).as("node"), col(vecCol).as("vec"),
      explode(lshBuckets(col(vecCol), tables, bitsPerTable, seed)).as("bucket"))
    val (cold, _) = MinHashLsh.splitHotBuckets(b, "bucket", maxBucketSize)
    MinHashLsh.bucketSelfJoin(cold, "bucket")
      .select(col("a.node").as("id_a"), col("a.vec").as("vec_a"),
        col("b.node").as("id_b"), col("b.vec").as("vec_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cosine", cosineFused(col("vec_a"), col("vec_b")))
      .where(col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }
}

/** Single-pass cosine similarity over two float arrays. Zero norm on either
  * side → 0.0 (matches the declarative `when` guard). Extra elements beyond
  * the shorter array are ignored (inputs share a dimension by contract).
  */
case class CosineSimilarity(
    left: Expression, right: Expression
) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  // fail at ANALYSIS on non-float arrays: getFloat over an array<double>
  // would silently read half of each slot and return confident garbage
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float> inputs, got ${l.catalogString} and ${r.catalogString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val va = a.asInstanceOf[ArrayData]
    val vb = b.asInstanceOf[ArrayData]
    val lim = math.min(va.numElements(), vb.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < lim) {
      val x = va.getFloat(i).toDouble
      val y = vb.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    // remaining elements of the longer side still count toward its norm
    // (parity with l2Norm over the full array)
    var j = lim
    while (j < va.numElements()) { val x = va.getFloat(j).toDouble; na += x * x; j += 1 }
    j = lim
    while (j < vb.numElements()) { val y = vb.getFloat(j).toDouble; nb += y * y; j += 1 }
    val sa = math.sqrt(na)
    val sb = math.sqrt(nb)
    if (sa == 0.0 || sb == 0.0) 0.0 else dot / (sa * sb)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "cosine_similarity"
}

/** The `m` nearest cells by dot product against unit centroids (cosine
  * order); deterministic tie-break on cell index. Centroids are expression
  * arguments (tiny — nlist×dim), serialized with the plan like a broadcast.
  */
case class NearestCells(child: Expression, centroids: Seq[Seq[Float]], m: Int)
    extends UnaryExpression with CodegenFallback {
  require(centroids.nonEmpty && m >= 1)

  @transient private lazy val cents: Array[Array[Float]] = centroids.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> input, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    // a dim mismatch means the corpus does not match the trained quantizer —
    // every assignment would be confidently wrong; fail loudly instead
    if (dim != cents(0).length)
      throw new IllegalArgumentException(
        s"$prettyName: vector dim $dim does not match centroid dim ${cents(0).length}")
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    val k = cents.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      val cent = cents(c)
      var d = 0.0
      var j = 0
      val lim = math.min(dim, cent.length)
      while (j < lim) { d += v(j) * cent(j); j += 1 }
      scores(c) = d
      c += 1
    }
    val mm = math.min(m, k)
    val idx = Array.range(0, k)
      .sortBy(i => (-scores(i), i))
      .take(mm)
    new GenericArrayData(idx)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCells =
    copy(child = newChild)
  override def prettyName: String = "nearest_cells"
}

/** Random-hyperplane sketch keys for cosine LSH. Hyperplane components are
  * deterministic pseudo-Gaussians from (seed, table, bit, dim index). Output:
  * one 64-bit key per table (table index tagged into the key).
  */
case class CosineLshKeys(child: Expression, tables: Int, bitsPerTable: Int, seed: Long)
    extends UnaryExpression with CodegenFallback {
  // bitsPerTable = 0 is the degenerate single-bucket mode: every vector gets
  // the same per-table key, so a bucket join devolves to the full pair set —
  // the config under which LSH output provably equals brute force (used by
  // the driver-oracled ANN queries; production params are recall-tested in
  // SimilaritySpec).
  require(tables >= 1 && bitsPerTable >= 0 && bitsPerTable <= 32)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case t => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> input, got ${t.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val dim = arr.numElements()
    val v = new Array[Double](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getFloat(i).toDouble; i += 1 }
    val planes = CosineLshKeys.planesFor(seed, tables, bitsPerTable, dim)
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var key = 0L
      var b = 0
      while (b < bitsPerTable) {
        val w = planes(t * bitsPerTable + b)
        var s = 0.0
        i = 0
        while (i < dim) { s += w(i) * v(i); i += 1 }
        if (s > 0) key |= (1L << b)
        b += 1
      }
      out(t) = (t.toLong << 40) ^ key
      t += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): CosineLshKeys =
    copy(child = newChild)
  override def prettyName: String = "cosine_lsh_keys"
}

object CosineLshKeys {
  /** Hyperplane weights are a pure function of (seed, table, bit, dim):
    * build the plane matrix ONCE per executor JVM instead of redrawing
    * ~2·dim uniforms per (row, table, bit) — the RNG work dominated the
    * sketch at corpus scale. Same SplittableRandom stream as the previous
    * inline draw, so every emitted key is byte-identical.
    * Memory: tables·bits·dim doubles (8·16·768 ≈ 0.8 MB per config).
    */
  private val planes = new java.util.concurrent.ConcurrentHashMap[
    (Long, Int, Int, Int), Array[Array[Double]]]()

  private[operators] def planesFor(
      seed: Long, tables: Int, bits: Int, dim: Int): Array[Array[Double]] = {
    val key = (seed, tables, bits, dim)
    // fast path: no size bookkeeping on the per-row hot path
    val hit = planes.get(key)
    if (hit != null) return hit
    // bound the executor-lifetime cache: a long-lived JVM cycling many
    // (seed, dims) configs must not accumulate plane matrices forever.
    // Evict ONE arbitrary entry, not the whole map — a clear() would wipe
    // matrices other concurrently-running queries on this executor are
    // cycling through, recompute-thrashing both jobs. Evicted OUTSIDE
    // computeIfAbsent (structural mutation inside a mapping function can
    // deadlock on bin locks); racing threads may evict a couple of extra
    // entries, which is harmless — an evicted-then-needed entry recomputes.
    if (planes.size >= 32) {
      val it = planes.keySet().iterator()
      if (it.hasNext) { it.next(); it.remove() }
    }
    planes.computeIfAbsent(key, _ => {
      val out = new Array[Array[Double]](tables * bits)
      var t = 0
      while (t < tables) {
        var b = 0
        while (b < bits) {
          val rnd = new java.util.SplittableRandom(seed ^ (t.toLong << 32) ^ b.toLong)
          val w = new Array[Double](dim)
          var i = 0
          // sum of two uniforms - 1 ≈ cheap symmetric weight; direction-valid for LSH
          while (i < dim) { w(i) = rnd.nextDouble() + rnd.nextDouble() - 1.0; i += 1 }
          out(t * bits + b) = w
          b += 1
        }
        t += 1
      }
      out
    })
  }
}
