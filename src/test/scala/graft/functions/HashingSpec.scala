package graft.functions

import graft.{Oracles, SparkSpec}
import org.apache.spark.sql.functions._

class HashingSpec extends SparkSpec {
  import spark.implicits._

  private def sig(text: String, k: Int = 128, n: Int = 3): Array[Long] =
    Seq(text).toDF("t")
      .select(Oracles.minHash(Hashing.shingleHashes(split($"t", " "), n), k).as("s"))
      .as[Array[Long]].collect()(0)

  test("minhash is deterministic across invocations and partitions") {
    val t = "the quick brown fox jumps over the lazy dog again and again"
    assert(sig(t).toSeq == sig(t).toSeq)
    val many = Seq.fill(64)(t).toDF("t").repartition(8)
      .select(Oracles.minHash(Hashing.shingleHashes(split($"t", " "), 3), 128).as("s"))
      .as[Array[Long]].collect()
    assert(many.map(_.toSeq).distinct.size == 1)
  }

  test("identical texts get identical signatures; disjoint texts do not") {
    val a = sig("alpha beta gamma delta epsilon zeta eta theta")
    val b = sig("alpha beta gamma delta epsilon zeta eta theta")
    val c = sig("one two three four five six seven eight")
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
  }

  test("minhash agreement estimates shingle jaccard within tolerance") {
    // two texts sharing exactly half their shingles (prefix overlap)
    val common = (1 to 60).map(i => s"w$i").mkString(" ")
    val ta = common + " " + (1 to 58).map(i => s"a$i").mkString(" ")
    val tb = common + " " + (1 to 58).map(i => s"b$i").mkString(" ")
    val df = Seq((ta, tb)).toDF("a", "b")
      .select(
        Hashing.shingleHashes(split($"a", " "), 3).as("sha"),
        Hashing.shingleHashes(split($"b", " "), 3).as("shb"),
        Oracles.minHash(Hashing.shingleHashes(split($"a", " "), 3), 256).as("ma"),
        Oracles.minHash(Hashing.shingleHashes(split($"b", " "), 3), 256).as("mb")
      )
      .select(
        (size(array_intersect($"sha", $"shb")).cast("double") /
          size(array_union($"sha", $"shb"))).as("jac"),
        Oracles.estJaccard($"ma", $"mb", 256).as("est")
      )
    val (jac, est) = df.as[(Double, Double)].collect()(0)
    assert(math.abs(jac - est) < 0.12, s"jaccard=$jac est=$est")
  }

  test("empty token array produces NULL signature (never matches)") {
    val r = Seq("").toDF("t")
      .select(Oracles.minHash(
        Hashing.shingleHashes(array().cast("array<string>"), 3), 16).as("s"))
      .select($"s".isNull).as[Boolean].collect()(0)
    assert(r)
  }

  test("band keys: equal signatures share all bands, sub-threshold pairs few") {
    val t = "foo bar baz qux quux corge grault garply waldo fred"
    val df = Seq((t, t)).toDF("a", "b").select(
      Hashing.bandKeys(Oracles.minHash(Hashing.shingleHashes(split($"a", " "), 3), 128), 16, 8).as("ba"),
      Hashing.bandKeys(Oracles.minHash(Hashing.shingleHashes(split($"b", " "), 3), 128), 16, 8).as("bb"))
    val (ba, bb) = df.as[(Array[Long], Array[Long])].collect()(0)
    assert(ba.toSeq == bb.toSeq && ba.length == 16)
  }

  test("simhash: identical → distance 0, near → small, far → large") {
    def sh(t: String): Long = Seq(t).toDF("t")
      .select(Oracles.simHash(split($"t", " ")).as("s")).as[Long].collect()(0)
    val base = (1 to 100).map(i => s"tok$i").mkString(" ")
    val near = (1 to 100).map(i => if (i == 50) "changed" else s"tok$i").mkString(" ")
    val far = (1 to 100).map(i => s"other$i").mkString(" ")
    assert(java.lang.Long.bitCount(sh(base) ^ sh(base)) == 0)
    assert(java.lang.Long.bitCount(sh(base) ^ sh(near)) <= 8)
    assert(java.lang.Long.bitCount(sh(base) ^ sh(far)) > 16)
  }

  test("simhash blocks: hamming<=d pairs share at least one of d+1 block keys") {
    val d = 3
    def blocks(s: Long): Array[Long] = Seq(s).toDF("s")
      .select(Hashing.simHashBlocks($"s", d + 1).as("b")).as[Array[Long]].collect()(0)
    val a = 0x0123456789abcdefL
    val b = a ^ (1L << 3) ^ (1L << 40) ^ (1L << 63) // 3 bit flips
    assert(blocks(a).intersect(blocks(b)).nonEmpty)
    // block-shape invariants (the old self-comparison here was vacuous):
    // d+1 keys, all distinct (per-position tagging keeps slices disjoint)
    assert(blocks(a).length == d + 1)
    assert(blocks(a).toSeq.distinct.length == d + 1)
  }

  test("pigeonhole completeness: EVERY pair with hamming <= d shares a block key") {
    val d = 3
    val rnd = new java.util.SplittableRandom(5)
    val base = Array.fill(200)(rnd.nextLong())
    val flipped = base.map { v =>
      var x = v
      val flips = rnd.nextInt(d + 1)
      (0 until flips).foreach(_ => x ^= (1L << rnd.nextInt(64)))
      x
    }
    val df = base.zip(flipped).toSeq.toDF("a", "b")
      .select(
        Hashing.simHashBlocks($"a", d + 1).as("ba"),
        Hashing.simHashBlocks($"b", d + 1).as("bb"))
      .select(size(array_intersect($"ba", $"bb")).as("shared"))
    val misses = df.where($"shared" === 0).count()
    assert(misses == 0)
  }

  test("cdc fingerprints: shared substrings sample identical fingerprints") {
    val shared = "x".hashCode.toString * 60 + ("shared content block " * 20)
    val a = "prefix one " + shared + " tail a"
    val b = "another beginning " + shared + " different tail"
    val rows = Seq(a, b).toDF("t")
      .select(Hashing.cdcFingerprints($"t", 64, 16).as("fp"))
      .as[Array[Long]].collect()
    assert(rows(0).intersect(rows(1)).nonEmpty)
  }

  test("shingle hashes are distinct-set semantics") {
    val t = "a b c a b c a b c" // repeated 3-grams
    val n = Seq(t).toDF("t")
      .select(size(Hashing.shingleHashes(split($"t", " "), 3)).as("n")).as[Int].collect()(0)
    // 7 positions but only 3 distinct 3-grams: (a b c), (b c a), (c a b)
    assert(n == 3)
  }

  test("fused DocSignature == split + ShingleHashes + MinHashSig + SimHash64") {
    val rnd = new scala.util.Random(7)
    val vocab = graft.datagen.PagesGen.vocab
    val texts = Seq(
      "", " ", "one", "a b", "a  b", "trailing space ", " leading",
      "münchen straße äöü ss", "a b c a b c a b c"
    ) ++ (1 to 40).map { _ =>
      (0 until (1 + rnd.nextInt(300))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val tokens = split($"t", " ")
    val rows = texts.toDF("t")
      .select(
        Hashing.docSignature($"t", 3, 32, 42L, 7L).as("f"),
        when($"t" === "", 0).otherwise(size(tokens)).as("n_tokens"),
        // the fused sketch emits its distinct set ascending (exact
        // Jaccard's merge walk needs that order), the same elements
        array_sort(Hashing.shingleHashes(tokens, 3, 42L)).as("shingles"),
        Oracles.minHash(Hashing.shingleHashes(tokens, 3, 42L), 32, 42L).as("minhash"),
        Oracles.simHash(tokens, 7L).as("simhash"))
      .select(
        ($"f.n_tokens" <=> $"n_tokens").as("a"),
        ($"f.shingles" <=> $"shingles").as("b"),
        ($"f.minhash" <=> $"minhash").as("c"),
        ($"f.simhash" <=> $"simhash").as("d"))
      .as[(Boolean, Boolean, Boolean, Boolean)].collect()
    rows.zip(texts).foreach { case ((a, b, c, d), t) =>
      assert(a && b && c && d, s"mismatch on '${t.take(40)}': tok=$a sh=$b mh=$c sim=$d")
    }
  }

  test("DocSignature: shingles are strictly ascending (signed)") {
    val rnd = new scala.util.Random(13)
    val vocab = graft.datagen.PagesGen.vocab
    val texts = Seq("a b c a b c a b c", "one two three four") ++ (1 to 40).map { _ =>
      (0 until (3 + rnd.nextInt(400))).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val shingles = texts.toDF("t")
      .select(Hashing.docSignature($"t", 3, 16, 42L, 7L).getField("shingles"))
      .as[Array[Long]].collect()
    assert(shingles.exists(_.exists(_ < 0)) && shingles.exists(_.exists(_ > 0)),
      "the fixture must hold hashes of both signs")
    shingles.zip(texts).foreach { case (sh, t) =>
      assert(sh.toSeq.sliding(2).forall(w => w.size < 2 || w(0) < w(1)),
        s"not strictly ascending on '${t.take(40)}': ${sh.take(8).toSeq}")
    }
  }

  test("DocSignature: NULL text keeps the row with NULL fields") {
    val r = Seq[Option[String]](None).toDF("t")
      .select(col("*"), inline(array(Hashing.docSignature($"t", 3, 16, 42L, 7L))))
      .select($"n_tokens".isNull, $"shingles".isNull, $"minhash".isNull, $"simhash".isNull)
      .as[(Boolean, Boolean, Boolean, Boolean)].collect()
    assert(r.length == 1 && r(0) == ((true, true, true, true)))
  }
}
