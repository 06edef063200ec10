package graft.operators

import graft.SparkSpec
import graft.config.GraftConfig
class SuffixOverlapSpec extends SparkSpec {
  import spark.implicits._

  /** O(n*m) DP oracle for longest common substring. */
  private def lcsBrute(a: String, b: String): Int = {
    if (a.isEmpty || b.isEmpty) return 0
    val dp = Array.ofDim[Int](a.length + 1, b.length + 1)
    var best = 0
    for (i <- 1 to a.length; j <- 1 to b.length) {
      if (a.charAt(i - 1) == b.charAt(j - 1)) {
        dp(i)(j) = dp(i - 1)(j - 1) + 1
        if (dp(i)(j) > best) best = dp(i)(j)
      }
    }
    best
  }

  test("suffix automaton LCS equals brute-force DP on random strings") {
    val rnd = new scala.util.Random(42)
    def randStr(): String =
      Array.fill(rnd.nextInt(61))(('a' + rnd.nextInt(3)).toChar).mkString
    (1 to 300).foreach { _ =>
      val (a, b) = (randStr(), randStr())
      assert(SuffixOverlap.longestCommonSubstring(a, b) == lcsBrute(a, b), s"a=$a b=$b")
    }
  }

  test("LCS handcases") {
    assert(SuffixOverlap.longestCommonSubstring("", "abc") == 0)
    assert(SuffixOverlap.longestCommonSubstring("abc", "abc") == 3)
    assert(SuffixOverlap.longestCommonSubstring("xxabcdyy", "zzabcdww") == 4)
    assert(SuffixOverlap.longestCommonSubstring("abab", "baba") == 3)
  }

  test("fingerprint candidates find planted long overlaps, verify confirms") {
    val cfg = GraftConfig.default // minOverlapChars=256, samplingMod=16
    val shared = (1 to 60).map(i => s"shared$i").mkString(" ") // ~540 chars
    val docs = Seq(
      (1L, s"prefix one ${shared} suffix one"),
      (2L, s"totally different beginning ${shared} and another ending"),
      (3L, "no overlap here at all just words " * 20),
      (4L, "another unrelated document body " * 20)
    ).toDS()
    val cands = SuffixOverlap.candidates(docs, cfg)
    val verified = SuffixOverlap.verify(cands, docs, cfg)
      .as[(Long, Long, Int)].collect()
    assert(verified.exists(v => v._1 == 1L && v._2 == 2L && v._3 >= 256))
    assert(!verified.exists(v => v._1 == 3L || v._2 == 3L))
  }

  test("fingerprints over the bucket cap are dropped, other shared passages still pair") {
    val boiler = (1 to 60).map(i => s"boiler$i").mkString(" ")
    val passage = (1 to 60).map(i => s"passage$i").mkString(" ")
    // docs 1-5 share the boilerplate: each of its fingerprints sits in a
    // 5-member bucket, over a cap of 3; docs 10 and 11 share a 2-member one
    val docs = ((1L to 5L).map(i => (i, s"intro$i $boiler outro$i")) ++ Seq(
      (10L, s"first shell $passage first end"),
      (11L, s"second shell $passage second end"))).toDS()
    def pairs(cap: Int): Set[(Long, Long)] = {
      val cfg = GraftConfig.default.copy(lsh = GraftConfig.default.lsh.copy(maxBucketSize = cap))
      SuffixOverlap.candidates(docs, cfg).as[(Long, Long)].collect().toSet
    }
    val capped = pairs(3)
    assert(capped == Set((10L, 11L)), s"boilerplate pairs must be dropped: $capped")
    // the same corpus uncapped pairs the boilerplate docs too
    assert(pairs(Int.MaxValue).contains((1L, 5L)))
  }

  test("sub-threshold overlaps are filtered by verify") {
    val cfg = GraftConfig.default
    val shared = (1 to 12).map(i => s"tiny$i").mkString(" ") // ~90 chars < 256
    val docs = Seq(
      (1L, s"${"filler alpha " * 30}$shared"),
      (2L, s"$shared ${"filler beta " * 30}")
    ).toDS()
    val cands = SuffixOverlap.candidates(docs, cfg)
    val verified = SuffixOverlap.verify(cands, docs, cfg).count()
    assert(verified == 0)
  }
}
