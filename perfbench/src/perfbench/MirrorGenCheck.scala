package perfbench

import org.apache.spark.sql.SparkSession
import graft.config.GraftConfig

/** Self-test of the mirror generator (`python3 perfbench/run.py --selftest`):
  *  - the same seed gives identical page bytes, a different seed does not;
  *  - the benchmark's mirror_skew layout puts one template above the bucket
  *    cap it runs with, and the next one below it;
  *  - the truth matches the layout: same-template pairs are `same` and near
  *    copies of each other, decoys are `different` and far from their
  *    template, near misses are `overlap` and in the ambiguous band.
  * Exits non-zero on the first failed property.
  */
object MirrorGenCheck {

  private def fail(msg: String): Nothing = {
    System.err.println(s"[selftest] FAILED: $msg")
    sys.exit(1)
  }

  private def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  /** SHA-256 over every generated page, in id order. */
  private def digest(spark: SparkSession, gen: MirrorGen, seed: Long, dir: String): String = {
    Corpus.write(spark, gen, seed, 0L, gen.total, dir)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    spark.read.parquet(dir).orderBy("warc_ts").collect().foreach { r =>
      md.update(r.getAs[String]("url").getBytes("UTF-8"))
      md.update(r.getAs[Array[Byte]]("html"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def trigrams(text: String): Set[String] = {
    val w = text.toLowerCase.replace(",", "").split("\\s+").filter(_.nonEmpty)
    w.sliding(3).map(_.mkString(" ")).toSet
  }

  private def jaccard(a: String, b: String): Double = {
    val (x, y) = (trigrams(a), trigrams(b))
    (x & y).size.toDouble / (x | y).size
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse("selftest")
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    try {
      val small = MirrorGen(50, 60, 5, 2.0)
      val a = digest(spark, small, 7L, s"$work/a")
      check(a == digest(spark, small, 7L, s"$work/b"), "same seed gave different bytes")
      check(a != digest(spark, small, 8L, s"$work/c"), "different seeds gave the same bytes")

      val wl = Main.workloads("mirror_skew")
      val gen = wl.gen(0)
      val props = java.nio.file.Files.createTempFile(
        java.nio.file.Paths.get(work), "graft", ".properties")
      java.nio.file.Files.write(props, wl.configProps.getBytes("UTF-8"))
      val cap = GraftConfig.fromPropertiesFile(props.toString).lsh.maxBucketSize
      check(gen.sizes.max > 2 * cap, s"largest template ${gen.sizes.max} is not above cap $cap")
      check(gen.sizes.sorted.reverse(1) < cap, s"second template is not below cap $cap")
      check(gen.sizes.sum == gen.mirrors, "template sizes do not add up to the mirror count")

      val seed = 7L
      val truth = small.mirrorTruth(seed)
      val same = truth.filter(_.label == "same")
      val expectSame = small.sizes.map(k => k * (k - 1) / 2).sum
      check(same.size == expectSame, s"${same.size} same pairs, layout implies $expectSame")
      val idOf = (0L until small.total).map(id => small.urlOf(seed, id) -> id).toMap
      check(idOf.size == small.total, "urls are not unique")
      same.foreach { p =>
        val (x, y) = (idOf(p.url_a), idOf(p.url_b))
        check(small.groupOf(seed, x) == small.groupOf(seed, y), s"same pair $p in two groups")
        check(jaccard(small.textOf(seed, x), small.textOf(seed, y)) >= 0.8,
          s"same pair $p is not a near copy")
      }
      val different = truth.filter(_.label == "different")
      check(different.size == small.templates, "one decoy per template expected")
      different.foreach { p =>
        val (x, y) = (idOf(p.url_a), idOf(p.url_b))
        check(small.groupOf(seed, x) != small.groupOf(seed, y), s"decoy pair $p in one group")
        check(jaccard(small.textOf(seed, x), small.textOf(seed, y)) < 0.2,
          s"decoy pair $p is too similar")
      }
      var id = small.pages
      for (t <- 0 until small.templates; _ <- 0L until small.sizes(t)) {
        check(small.groupOf(seed, id) == small.groupOf(seed, small.memberId(t, 0)),
          s"mirror $id is not in template $t's group")
        id += 1
      }
      check(id == small.decoyId(0), "mirror ids do not end where the decoys start")
      val overlap = truth.filter(_.label == "overlap")
      check(overlap.size == small.templates, "one near miss per template expected")
      overlap.foreach { p =>
        val (x, y) = (idOf(p.url_a), idOf(p.url_b))
        val j = jaccard(small.textOf(seed, x), small.textOf(seed, y))
        check(small.groupOf(seed, x) != small.groupOf(seed, y), s"near-miss pair $p in one group")
        check(j >= 0.5 && j < 0.8, s"near-miss pair $p has Jaccard $j, outside [0.5, 0.8)")
      }
      println(s"[selftest] ok: ${same.size} same pairs, ${different.size} decoys, " +
        s"${overlap.size} near misses, " +
        s"mirror_skew sizes ${gen.sizes.take(3).mkString(",")}... over cap $cap")
    } finally spark.stop()
  }
}
