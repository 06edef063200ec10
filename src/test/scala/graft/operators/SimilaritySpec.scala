package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, dim: Int, seed: Long = 7L): Seq[(Long, Array[Float])] = {
    val rnd = new java.util.SplittableRandom(seed)
    (0 until n).map(i => (i.toLong, Array.fill(dim)((rnd.nextDouble() * 2 - 1).toFloat)))
  }

  test("dot/norm/cosine basics") {
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f)), (Array(1f, 2f, 2f), Array(1f, 2f, 2f)))
      .toDF("a", "b")
    val got = df.select(
      Similarity.dot($"a", $"b").as("dot"),
      Similarity.l2Norm($"a").as("na"),
      graft.Oracles.cosine($"a", $"b", Similarity.l2Norm($"a"), Similarity.l2Norm($"b")).as("cos")
    ).as[(Double, Double, Double)].collect()
    assert(got(0)._1 == 0.0 && got(0)._3 == 0.0)
    assert(math.abs(got(1)._2 - 3.0) < 1e-9 && math.abs(got(1)._3 - 1.0) < 1e-9)
  }

  test("bruteForceTopK: exact, excludes self, deterministic rank ties") {
    val corpus = vecs(100, 16).toDF("vec_id", "embedding")
    val got = Similarity.bruteForceTopK(corpus, corpus.where($"vec_id" < 3), 5)
    val rows = got.as[(Long, Long, Int, Double)].collect()
    assert(rows.length == 15)
    assert(!rows.exists(r => r._1 == r._2))
    // ranks are 1..5 per query, cosine non-increasing within a query
    val byQ = rows.groupBy(_._1)
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_._3)
      assert(sorted.map(_._3).toSeq == (1 to 5))
      assert(sorted.map(_._4).sliding(2).forall(s => s.head >= s.last - 1e-12))
    }
  }

  test("lshTopK results are a subset ranking of true cosine order with decent recall") {
    val corpus = vecs(300, 16).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(corpus, queries, 3, tables = 32, bitsPerTable = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"ANN recall too low: $recall")
  }

  test("cosineFused is bit-identical to the declarative cosine chain") {
    val pairs = vecs(50, 64, seed = 3L).zip(vecs(50, 64, seed = 4L))
      .map { case ((_, a), (_, b)) => (a, b) } ++
      Seq((Array.fill(8)(0f), Array.fill(8)(1f)), (Array.empty[Float], Array.empty[Float]))
    val rows = pairs.toDF("a", "b")
      .select(
        Similarity.cosineFused($"a", $"b").as("fused"),
        graft.Oracles.cosine($"a", $"b",
          Similarity.l2Norm($"a"), Similarity.l2Norm($"b")).as("decl"))
      .as[(Double, Double)].collect()
    rows.foreach { case (f, d) => assert(f == d, s"fused=$f decl=$d") }
  }

  test("ivfTopK with nprobe == nlist degenerates to exact brute force") {
    val corpus = vecs(200, 16).toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 8)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, queries, 5, nlist = 8, nprobe = 8)
      .select("query_id", "neighbor_id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(ivf == exact)
  }

  test("ivfTopK recall on clustered data with partial probing") {
    // 10 well-separated cluster centers, 30 noisy members each
    val rnd = new java.util.SplittableRandom(11L)
    val dim = 16
    val centers = Array.fill(10, dim)((rnd.nextDouble() * 2 - 1).toFloat)
    val corpus = (0 until 300).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => x + (rnd.nextDouble() * 0.1 - 0.05).toFloat))
    }.toDF("vec_id", "embedding")
    val queries = corpus.where($"vec_id" < 10)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(corpus, queries, 5, nlist = 16, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.8, s"IVF recall too low: $recall")
  }

  test("ivf centroid training is deterministic and partitioning-independent") {
    val corpus = vecs(150, 8).toDF("vec_id", "embedding")
    val a = Similarity.trainIvfCentroids(corpus, 8, seed = 5L)
    val b = Similarity.trainIvfCentroids(corpus.repartition(13), 8, seed = 5L)
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
  }

  test("nearDupPairs finds planted duplicate vectors") {
    val base = vecs(50, 16)
    val dups = base.take(5).map { case (id, v) => (id + 1000L, v.clone()) }
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val pairs = Similarity.nearDupPairs(corpus, 0.999, tables = 16, bitsPerTable = 8)
      .as[(Long, Long, Double)].collect()
    val found = pairs.map(p => (p._1, p._2)).toSet
    (0L until 5L).foreach { id => assert(found.contains((id, id + 1000L)), s"missing dup $id") }
  }

  test("nearDupPairs hot-bucket cap drops mass-duplicated buckets, observably not silently-wrong") {
    // 40 identical vectors land one bucket per table; cap=10 drops those
    // buckets so the quadratic blow-up never schedules. The distinct pair
    // (100, 101) lives in uncrowded buckets and must survive the prune.
    val hot = (0 until 40).map(i => (i.toLong, Array.fill(16)(0.5f)))
    val pair = Seq((100L, Array.fill(16)(-0.5f)), (101L, Array.fill(16)(-0.5f)))
    val corpus = (hot ++ pair).toDF("vec_id", "embedding")
    val capped = Similarity.nearDupPairs(corpus, 0.999, tables = 4, bitsPerTable = 8,
      maxBucketSize = 10).as[(Long, Long, Double)].collect()
    assert(capped.map(p => (p._1, p._2)).toSet == Set((100L, 101L)),
      s"cap must drop the hot bucket and keep the cold pair: ${capped.toSeq}")
    // exhaustive mode recovers everything: 40·39/2 hot pairs + the cold one
    val full = Similarity.nearDupPairs(corpus, 0.999, tables = 4, bitsPerTable = 8,
      maxBucketSize = Int.MaxValue).count()
    assert(full == 40L * 39 / 2 + 1, s"exhaustive mode lost pairs: $full")
  }

  test("float-array expressions reject non-float arrays at analysis, not with silent garbage") {
    val doubles = Seq((1L, Array(0.5d, 0.25d))).toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      doubles.select(Similarity.cosineFused($"embedding", $"embedding")).collect()
    }
    assert(e1.getMessage.contains("array<float>"), e1.getMessage)
    val e2 = intercept[Exception] {
      doubles.select(Similarity.lshBuckets($"embedding")).collect()
    }
    assert(e2.getMessage.contains("array<float>"), e2.getMessage)
    val e3 = intercept[Exception] {
      doubles.select(Similarity.nearestCells($"embedding",
        Array(Array(1f, 0f)), 1)).collect()
    }
    assert(e3.getMessage.contains("array<float>"), e3.getMessage)
  }

  test("trainIvfCentroids tolerates null embeddings; mixed dims fail loudly") {
    val withNull = (vecs(20, 8).map { case (id, v) => (id, Option(v)) } :+
      ((99L, Option.empty[Array[Float]]))).toDF("vec_id", "embedding")
    val cents = Similarity.trainIvfCentroids(withNull, 4)
    assert(cents.length == 4 && cents.forall(_.length == 8))
    val mixed = Seq((1L, Array(1f, 0f)), (2L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.trainIvfCentroids(mixed, 2)
    }
    assert(e.getMessage.contains("dimension"), e.getMessage)
  }

  test("multimodal feature extraction: real codecs, deterministic batch plumbing") {
    val media = Multimodal.syntheticMedia(spark, 50)
    val feats = Multimodal.decodeMedia(media).collect().sortBy(_.media_id)
    assert(feats.length == 50)
    // every synthetic payload is a real, decodable PNG / WAV / GIF
    assert(feats.forall(f => if (f.kind == "audio") f.duration_ms > 0 else f.width > 0))
    val again = Multimodal.decodeMedia(media).collect().sortBy(_.media_id)
    assert(feats.toSeq == again.toSeq)
  }
}
