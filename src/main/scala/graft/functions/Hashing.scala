package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Hash-sketch expressions for near-duplicate detection (SURVEY.md §2.3
  * B7-B9). These are OUR candidate-generation primitives; the reference's
  * analog is its blocking-key mechanism
  * (`/root/reference/src/event_dedup/preprocessing/blocking.py:69-121`).
  *
  * All are deterministic scalar expressions over one row's token/shingle
  * array — no shuffle, no state — so they parallelize embarrassingly and the
  * per-row cost is the only cost. Seeds are pinned (default 42,
  * FIXTURES.md determinism policy). Implemented with `CodegenFallback`
  * first (SURVEY.md §7.3); the per-row loop dominates, not dispatch.
  */
object Hashing {

  /** xxhash64 of a UTF8String with seed (same kernel as Spark's `xxhash64`). */
  @inline def hashUtf8(s: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes(), seed)

  /** Deterministic (a, b) permutation parameters for k MinHash functions. */
  def permutations(k: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val as = new Array[Long](k)
    val bs = new Array[Long](k)
    var i = 0
    while (i < k) {
      as(i) = rnd.nextLong() | 1L // odd multiplier => bijection mod 2^64
      bs(i) = rnd.nextLong()
      i += 1
    }
    (as, bs)
  }

  // ---------------------------------------------------------------------
  // Column API
  // ---------------------------------------------------------------------

  /** array<string> tokens → array<long> DISTINCT hashes of word n-grams. */
  def shingleHashes(tokens: Column, n: Int, seed: Long = 42L): Column =
    toCol(ShingleHashes(toExpr(tokens), n, seed))

  /** array<long> signature → array<long> LSH band keys (bands × rowsPerBand). */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    toCol(BandKeys(toExpr(sig), bands, rowsPerBand))

  /** long simhash → array<long> pigeonhole block keys for Hamming ≤ d joins
    * (numBlocks = d + 1: if two hashes differ in ≤ d bits, at least one of
    * the d+1 disjoint blocks is identical).
    */
  def simHashBlocks(sim: Column, numBlocks: Int): Column =
    toCol(SimHashBlocks(toExpr(sim), numBlocks))

  /** string → array<long> content-defined sampled window fingerprints
    * (the suffix/overlap tier's candidate keys).
    */
  def cdcFingerprints(text: Column, windowChars: Int, samplingMod: Int): Column =
    toCol(CdcFingerprints(toExpr(text), windowChars, samplingMod))

  /** text → struct(n_tokens, shingles, minhash, simhash) in ONE byte-walk —
    * the fused form of `split` + [[ShingleHashes]] + MinHash + SimHash used
    * by the pipeline's signature stage (the specs keep the per-step
    * `MinHashSig` and `SimHash64` expressions as its semantic spec;
    * equivalence is property-tested).
    */
  def docSignature(text: Column, n: Int, k: Int, lshSeed: Long, simSeed: Long): Column =
    toCol(DocSignature(toExpr(text), n, k, lshSeed, simSeed))
}

/** Fused per-document signature sketch: tokenizes on single spaces (byte
  * 0x20 — exact `split(text, " ")` semantics incl. empty fields, valid
  * because 0x20 never occurs inside a UTF-8 multibyte sequence) and computes
  * in one pass over the text bytes exactly what the composition
  *
  *   tokens   = split(text, " ")
  *   n_tokens = if (text == "") 0 else tokens.length
  *   shingles = array_sort(ShingleHashes(tokens, n, lshSeed))
  *   minhash  = MinHashSig(shingles, k, lshSeed)
  *   simhash  = SimHash64(tokens, simSeed)
  *
  * computes in four interpreted trees + three regex splits. MinHash mins are
  * updated as each NEW distinct shingle appears (duplicates can't change a
  * min), so no second pass over the shingle array either. NULL input yields
  * a struct of NULL fields (not a NULL struct) so generators keep the row.
  */
case class DocSignature(child: Expression, n: Int, k: Int, lshSeed: Long, simSeed: Long)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(n >= 1 && k >= 1)

  @transient private lazy val (as, bs) = Hashing.permutations(k, lshSeed)

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = true),
    StructField("shingles", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("minhash", ArrayType(LongType, containsNull = false), nullable = true),
    StructField("simhash", LongType, nullable = true)))
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return new GenericInternalRow(Array[Any](null, null, null, null))
    compute(v.asInstanceOf[UTF8String])
  }

  override def nullSafeEval(input: Any): Any = compute(input.asInstanceOf[UTF8String])

  private def compute(text: UTF8String): InternalRow = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val nb = text.numBytes()

    val votes = new Array[Int](64)
    val ring = new Array[Long](n) // last n token hashes (lshSeed)
    // Primitive open-addressing seen-set + growable primitive buffer (r6):
    // the previous java.util.HashSet[java.lang.Long] + ArrayBuffer[Long]
    // boxed every distinct shingle hash twice — at 10^6 docs that is
    // ~10^8 java.lang.Long allocations per corpus pass, pure GC churn in
    // the sketch hot loop. 0 is kept out of the table (sentinel) via a
    // dedicated flag; probe order does not affect output (the buffer is
    // sorted ascending before it is emitted, see below).
    var cap = 1 << 9
    var tbl = new Array[Long](cap)
    var setSize = 0
    var hasZero = false
    var shingles = new Array[Long](256)
    var nSh = 0
    val mins = Array.fill(k)(-1L) // unsigned max

    def addSeen(h: Long): Boolean =
      if (h == 0L) { if (hasZero) false else { hasZero = true; true } }
      else {
        var mask = cap - 1
        var idx = (h ^ (h >>> 33)).toInt & mask
        while (tbl(idx) != 0L && tbl(idx) != h) idx = (idx + 1) & mask
        if (tbl(idx) == h) false
        else {
          tbl(idx) = h
          setSize += 1
          if (setSize * 2 > cap) { // grow at 0.5 load, rehash
            val old = tbl
            cap <<= 1
            mask = cap - 1
            tbl = new Array[Long](cap)
            var oi = 0
            while (oi < old.length) {
              val v = old(oi)
              if (v != 0L) {
                var ni = (v ^ (v >>> 33)).toInt & mask
                while (tbl(ni) != 0L) ni = (ni + 1) & mask
                tbl(ni) = v
              }
              oi += 1
            }
          }
          true
        }
      }

    var tokens = 0
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || Platform.getByte(base, off + i) == 0x20) {
        val hSim = XXH64.hashUnsafeBytes(base, off + start, i - start, simSeed)
        var b = 0
        while (b < 64) {
          if (((hSim >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
        ring(tokens % n) = XXH64.hashUnsafeBytes(base, off + start, i - start, lshSeed)
        tokens += 1
        if (tokens >= n) {
          var h = lshSeed
          var j = 0
          while (j < n) {
            h = XXH64.hashLong(ring((tokens - n + j) % n), h)
            j += 1
          }
          if (addSeen(h)) {
            if (nSh == shingles.length)
              shingles = java.util.Arrays.copyOf(shingles, nSh << 1)
            shingles(nSh) = h
            nSh += 1
            var p = 0
            while (p < k) {
              val hp = as(p) * h + bs(p)
              if (java.lang.Long.compareUnsigned(hp, mins(p)) < 0) mins(p) = hp
              p += 1
            }
          }
        }
        start = i + 1
      }
      i += 1
    }

    var sim = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) sim |= (1L << b)
      b += 1
    }
    val nTokens: Any = if (nb == 0) 0 else tokens
    // UnsafeArrayData.fromPrimitiveArray: no per-element boxing on output
    // (GenericArrayData(Array[Long]) widens to Object[]) — same ArrayData
    // contract, bit-identical values
    val minhash: Any =
      if (nSh == 0) null
      else org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(mins)
    // shingles leave ascending (signed): exact Jaccard counts |A∩B| with a
    // merge walk over two sorted arrays (SortedIntersectSize), so each set
    // is sorted once here instead of once per candidate pair downstream
    val sorted = java.util.Arrays.copyOf(shingles, nSh)
    java.util.Arrays.sort(sorted)
    new GenericInternalRow(Array[Any](
      nTokens,
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sorted),
      minhash, sim))
  }

  override protected def withNewChildInternal(newChild: Expression): DocSignature =
    copy(child = newChild)
  override def prettyName: String = "doc_signature"
}

/** Content-defined sampled Karp-Rabin fingerprints of W-char windows:
  * windows whose rolling hash ≡ 0 (mod samplingMod) are kept. Sampling is a
  * pure function of the window CONTENT, so two documents sharing a long
  * substring sample identical fingerprints inside it — the distributed
  * long-exact-overlap candidate key (SURVEY.md §2.3 B10).
  */
case class CdcFingerprints(child: Expression, windowChars: Int, samplingMod: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(StringType)
  require(windowChars >= 8 && samplingMod >= 1)

  private val KrBase = 1000003L

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val text = input.asInstanceOf[UTF8String].toString
    val w = windowChars
    if (text.length < w) return new GenericArrayData(Array.empty[Long])
    var pow = 1L
    var p = 0
    while (p < w - 1) { pow *= KrBase; p += 1 }
    // first-seen order + seen-set, like ShingleHashes — a bare HashSet's
    // iteration order is a JDK implementation detail, and the output array
    // order must be byte-deterministic across JVMs for golden tests and
    // checkpointed state
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var h = 0L
    var i = 0
    while (i < w) { h = h * KrBase + text.charAt(i); i += 1 }
    if (java.lang.Long.remainderUnsigned(h, samplingMod) == 0L && seen.add(h)) out += h
    while (i < text.length) {
      h = (h - text.charAt(i - w) * pow) * KrBase + text.charAt(i)
      if (java.lang.Long.remainderUnsigned(h, samplingMod) == 0L && seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): CdcFingerprints =
    copy(child = newChild)
  override def prettyName: String = "cdc_fingerprints"
}

/** Distinct hashes of word n-grams over a token array.
  * Gram hash = xxhash64 chain over the n member-token hashes, so no n-gram
  * strings are materialized.
  */
case class ShingleHashes(child: Expression, n: Int, seed: Long)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val numTokens = arr.numElements()
    if (numTokens < n) return new GenericArrayData(Array.empty[Long])
    val tokenHashes = new Array[Long](numTokens)
    var i = 0
    while (i < numTokens) {
      tokenHashes(i) = Hashing.hashUtf8(arr.getUTF8String(i), seed)
      i += 1
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Long](numTokens - n + 1)
    i = 0
    while (i <= numTokens - n) {
      var h = seed
      var j = 0
      while (j < n) {
        h = XXH64.hashLong(tokenHashes(i + j), h)
        j += 1
      }
      if (seen.add(h)) out += h
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
  override def prettyName: String = "shingle_hashes"
}

/** LSH band keys: hash of each r-row slice of the signature, salted with the
  * band index so keys from different bands never collide into one join bucket.
  */
case class BandKeys(child: Expression, bands: Int, rowsPerBand: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  require(bands >= 1 && rowsPerBand >= 1)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    require(arr.numElements() >= bands * rowsPerBand,
      s"signature length ${arr.numElements()} < bands*rows ${bands * rowsPerBand}")
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = b.toLong
      var j = 0
      while (j < rowsPerBand) {
        h = XXH64.hashLong(arr.getLong(b * rowsPerBand + j), h)
        j += 1
      }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): BandKeys =
    copy(child = newChild)
  override def prettyName: String = "band_keys"
}

/** Pigeonhole block keys for Hamming-ball candidate joins: 64 bits split into
  * `numBlocks` contiguous blocks; key = block value tagged with block index.
  */
case class SimHashBlocks(child: Expression, numBlocks: Int)
    extends UnaryExpression with CodegenFallback with ExpectsInputTypes {
  // analysis-time type check (wrong-typed input must fail at analysis,
  // not as an executor-side ClassCastException mid-job)
  override def inputTypes: Seq[DataType] = Seq(LongType)
  require(numBlocks >= 1 && numBlocks <= 64)

  private val width = 64 / numBlocks

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val sim = input.asInstanceOf[Long]
    val out = new Array[Long](numBlocks)
    var j = 0
    while (j < numBlocks) {
      // last block absorbs the remainder bits
      val lo = j * width
      val hi = if (j == numBlocks - 1) 64 else lo + width
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      val block = (sim >>> lo) & mask
      // the block index rides into the key via the hash SEED (hashLong's
      // j), which is what actually separates same-valued blocks at
      // different positions; the XOR tag only stirs the top bits further —
      // cross-block collisions remain possible (the hash occupies all 64
      // bits) and are harmless: a collision adds a spurious candidate
      // pair, never loses one (verification filters by true Hamming)
      out(j) = (j.toLong << 56) ^ XXH64.hashLong(block, j.toLong)
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashBlocks =
    copy(child = newChild)
  override def prettyName: String = "simhash_blocks"
}
