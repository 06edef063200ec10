package graft

import graft.config.GraftConfig
import graft.functions.Hashing
import graft.operators.ConnectedComponents
import org.apache.spark.sql.functions._

/** Property-style suites (SURVEY.md §5): randomized inputs with fixed seeds
  * against analytic oracles.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** Union-find oracle for CC. */
  private final class UnionFind(n: Int) {
    private val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    def union(a: Int, b: Int): Unit = { val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
  }

  test("CC on random graphs equals union-find oracle (20 seeded graphs)") {
    val rnd = new scala.util.Random(7)
    (1 to 20).foreach { trial =>
      val n = 5 + rnd.nextInt(60)
      val m = rnd.nextInt(2 * n)
      val edges = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val uf = new UnionFind(n)
        edges.foreach { case (a, b) => uf.union(a.toInt, b.toInt) }
        // oracle component = min node of component, for nodes touching edges
        val touched = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val mins = touched.groupBy(u => uf.find(u.toInt)).values
          .flatMap(g => { val mn = g.min; g.map(_ -> mn) }).toMap
        // force the distributed contraction (driverFinishEdges=0): the
        // default local finisher IS a union-find, which would be circular
        val got = ConnectedComponents.run(edges.toDF("src", "dst"), driverFinishEdges = 0)
          .as[(Long, Long)].collect().toMap
        assert(got == mins, s"trial=$trial n=$n edges=$edges")
      }
    }
  }

  test("banding recall matches 1-(1-s^r)^b within statistical tolerance") {
    val cfg = GraftConfig.default // b=16, r=8
    // construct many pairs at a controlled jaccard via shared/unique shingle mix
    val sims = Seq(0.95, 0.85, 0.70, 0.40)
    sims.foreach { s =>
      // shared fraction f of distinct tokens gives (approx) jaccard f
      val total = 400
      val shared = (s * total).toInt
      val trials = 60
      val rows = (0 until trials).map { t =>
        val a = (0 until shared).map(i => s"c$i") ++ (0 until (total - shared)).map(i => s"a${t}_$i")
        val b = (0 until shared).map(i => s"c$i") ++ (0 until (total - shared)).map(i => s"b${t}_$i")
        (t.toLong, a.mkString(" "), b.mkString(" "))
      }
      val df = rows.toDF("t", "ta", "tb").select(
        $"t",
        Hashing.bandKeys(Oracles.minHash(Hashing.shingleHashes(split($"ta", " "), 1), cfg.lsh.numHashes), cfg.lsh.bands, cfg.lsh.rowsPerBand).as("ba"),
        Hashing.bandKeys(Oracles.minHash(Hashing.shingleHashes(split($"tb", " "), 1), cfg.lsh.numHashes), cfg.lsh.bands, cfg.lsh.rowsPerBand).as("bb"))
      val hits = df.select((size(array_intersect($"ba", $"bb")) > 0).as("hit"))
        .where($"hit").count()
      val recall = hits.toDouble / trials
      // true jaccard of the construction (1-gram shingles): shared/(2*total-shared)
      val j = shared.toDouble / (2 * total - shared)
      val expected = 1.0 - math.pow(1.0 - math.pow(j, cfg.lsh.rowsPerBand), cfg.lsh.bands)
      assert(math.abs(recall - expected) < 0.25,
        s"s=$s j=$j recall=$recall expected=$expected")
    }
  }

  test("minhash agreement concentrates around true jaccard (10 random mixes)") {
    val rnd = new scala.util.Random(11)
    (1 to 10).foreach { _ =>
      val shared = 50 + rnd.nextInt(200)
      val ua = 20 + rnd.nextInt(150)
      val ub = 20 + rnd.nextInt(150)
      val a = (0 until shared).map(i => s"s$i") ++ (0 until ua).map(i => s"a$i")
      val b = (0 until shared).map(i => s"s$i") ++ (0 until ub).map(i => s"b$i")
      val row = Seq((a.mkString(" "), b.mkString(" "))).toDF("ta", "tb").select(
        Oracles.minHash(Hashing.shingleHashes(split($"ta", " "), 1), 256).as("ma"),
        Oracles.minHash(Hashing.shingleHashes(split($"tb", " "), 1), 256).as("mb"))
        .select(Oracles.estJaccard($"ma", $"mb", 256).as("est"))
        .as[Double].collect()(0)
      val trueJ = shared.toDouble / (shared + ua + ub)
      // 256 hashes → σ = sqrt(j(1-j)/256) ≤ 0.032; allow 4σ
      assert(math.abs(row - trueJ) < 0.13, s"est=$row true=$trueJ")
    }
  }

  test("collect_min_k == sorted collect_list take(k) (15 random groupings)") {
    val rnd = new scala.util.Random(13)
    (1 to 15).foreach { trial =>
      val k = 1 + rnd.nextInt(8)
      val rows = (1 to 30 + rnd.nextInt(200)).map { _ =>
        (rnd.nextInt(6).toLong, s"u${rnd.nextInt(1000)}-${rnd.nextInt(100)}")
      }
      val df = rows.toDF("g", "v").repartition(7) // force partial agg + merge
      val got = df.groupBy($"g")
        .agg(graft.functions.CollectMinK.collectMinK($"v", k).as("mk"))
        .as[(Long, Seq[String])].collect().toMap
      val want = rows.groupBy(_._1).map { case (g, vs) =>
        g -> vs.map(_._2).sorted.take(k)
      }
      assert(got == want, s"trial=$trial k=$k")
    }
  }

  test("collect_min_k at k = Int.MaxValue == sort_array(collect_list)") {
    val df = (1 to 300).map(i => ((i % 4).toLong, s"u${i * 7919 % 1000}"))
      .toDF("g", "v").repartition(5) // force partial agg + merge
    def byGroup(agg: org.apache.spark.sql.Column) =
      df.groupBy($"g").agg(agg.as("vs")).as[(Long, Seq[String])].collect().toMap
    assert(byGroup(graft.functions.CollectMinK.collectMinK($"v", Int.MaxValue)) ==
      byGroup(sort_array(collect_list($"v"))))
  }
}
