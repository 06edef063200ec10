package perfbench

import org.apache.spark.sql.{Dataset, SparkSession}
import graft.datagen.{Page, PagesGen, TruthPair}

/** Corpus with web "mirror" clusters on top of the PagesGen pages.
  *
  * Id layout, for `pages` = P, `mirrors` = M and `templates` = T:
  *   [0, P)           PagesGen pages (`PagesGen.pageOf(seed, id)`)
  *   [P, P+M)         mirror copies: near-copies (≤2 token edits plus
  *                    cosmetic noise) of one of T templates; cluster sizes
  *                    follow Zipf(`zipf`) over the templates
  *   [P+M, P+M+T)     one decoy per template: same host and length as the
  *                    template, different content (a hard negative)
  *   [P+M+T, P+M+2T)  one near miss per template: the template's first 80%
  *                    of words, then its own (word-trigram Jaccard about
  *                    0.66, in the ambiguous band, with a long exact overlap
  *                    — tier 2 must keep it out of the cluster)
  *
  * Every page is a pure function of (seed, id) once the layout parameters
  * are fixed, so partitioning and parallelism do not change a byte.
  */
final case class MirrorGen(pages: Long, mirrors: Long, templates: Int, zipf: Double) {
  require(templates >= 0 && mirrors >= templates && (templates > 0 || mirrors == 0),
    "every template needs a copy")

  /** Cluster size per template: Zipf weights, largest-remainder rounded so
    * the sizes sum to exactly `mirrors`; every template keeps ≥1 copy.
    */
  val sizes: Array[Long] = {
    val w = Array.tabulate(templates)(t => math.pow(t + 1.0, -zipf))
    if (templates == 0) Array.empty[Long] else {
    val spare = mirrors - templates
    val exact = w.map(_ / w.sum * spare)
    val base = exact.map(x => math.floor(x).toLong)
    val left = (spare - base.sum).toInt
    exact.indices.sortBy(t => -(exact(t) - base(t))).take(left).foreach(t => base(t) += 1)
    base.map(_ + 1L)
    }
  }

  /** First mirror offset of each template (prefix sums of `sizes`). */
  val starts: Array[Long] = sizes.scanLeft(0L)(_ + _).init

  val total: Long = pages + mirrors + 2L * templates

  /** (template, member index) of a mirror id. */
  def mirrorOf(id: Long): (Int, Long) = {
    val j = id - pages
    var lo = 0
    var hi = templates - 1
    while (lo < hi) { // last template whose start ≤ j
      val mid = (lo + hi + 1) >>> 1
      if (starts(mid) <= j) lo = mid else hi = mid - 1
    }
    (lo, j - starts(lo))
  }

  def isMirror(id: Long): Boolean = id >= pages && id < pages + mirrors
  def isDecoy(id: Long): Boolean = id >= pages + mirrors && id < pages + mirrors + templates
  def isNearMiss(id: Long): Boolean = id >= pages + mirrors + templates && id < total
  def decoyId(t: Int): Long = pages + mirrors + t
  def nearMissId(t: Int): Long = pages + mirrors + templates + t
  private def templateOf(id: Long): Int =
    if (isMirror(id)) mirrorOf(id)._1 else ((id - pages - mirrors) % templates).toInt
  def memberId(t: Int, m: Long): Long = pages + starts(t) + m

  /** Planted duplicate group of a doc: ids in one group are the `same`
    * truth pairs; a group of one is a singleton.
    */
  def groupOf(seed: Long, id: Long): String =
    if (isMirror(id)) s"t${mirrorOf(id)._1}"
    else if (isDecoy(id)) s"d$id"
    else if (isNearMiss(id)) s"n$id"
    else {
      val g = id / PagesGen.GroupSize
      if (PagesGen.dupSlots(g).contains((id % PagesGen.GroupSize).toInt)) s"p$g"
      else s"s$id"
    }

  def urlOf(seed: Long, id: Long): String =
    if (id < pages) PagesGen.urlOf(seed, id)
    else s"https://${hostOf(templateOf(id))}/mirror/$id"

  private def hostOf(t: Int): String = s"mirror$t.example.net"

  def textOf(seed: Long, id: Long): String =
    if (id < pages) PagesGen.textOf(seed, id)
    else if (isDecoy(id)) words(MirrorGen.rng(seed, 3, templateOf(id))).mkString(" ")
    else if (isNearMiss(id)) {
      val t = templateOf(id)
      val keep = TemplateWords * 4 / 5
      (templateWords(seed, t).take(keep) ++
        words(MirrorGen.rng(seed, 4, t)).take(TemplateWords - keep)).mkString(" ")
    } else {
      val (t, m) = mirrorOf(id)
      val base = templateWords(seed, t)
      if (m == 0) base.mkString(" ") else MirrorGen.mutate(base, MirrorGen.rng(seed, 2, id))
    }

  /** One length for every template, so the work per cluster does not
    * change with the seed.
    */
  private val TemplateWords = 180

  private def templateWords(seed: Long, t: Int): Array[String] = words(MirrorGen.rng(seed, 1, t))

  private def words(r: java.util.SplittableRandom): Array[String] =
    Array.fill(TemplateWords)(PagesGen.vocab(r.nextInt(PagesGen.vocab.length)))

  def pageOf(seed: Long, id: Long): Page =
    if (id < pages) PagesGen.pageOf(seed, id)
    else {
      val url = urlOf(seed, id)
      val text = textOf(seed, id)
      Page(url, new java.sql.Timestamp(1735689600000L + id * 1000L),
        PagesGen.htmlOf(url, text, "en"), text, "en")
    }

  def corpus(spark: SparkSession, seed: Long): Dataset[Page] = {
    import spark.implicits._
    val g = this
    spark.range(total).map(id => g.pageOf(seed, id))
  }

  /** Truth pairs for the mirror part: every same-template pair is `same`,
    * every (decoy, template copy 0) pair is `different`, every (near miss,
    * template copy 0) pair is `overlap`. Quadratic in the
    * cluster sizes — for inspection and tests; the benchmark's check counts
    * pairs per group instead of listing them.
    */
  def mirrorTruth(seed: Long): Seq[TruthPair] = {
    def ordered(a: String, b: String, label: String) =
      if (a < b) TruthPair(a, b, label) else TruthPair(b, a, label)
    val same = for {
      t <- 0 until templates
      i <- 0L until sizes(t)
      j <- (i + 1) until sizes(t)
    } yield ordered(urlOf(seed, memberId(t, i)), urlOf(seed, memberId(t, j)), "same")
    val different = (0 until templates).map(t =>
      ordered(urlOf(seed, decoyId(t)), urlOf(seed, memberId(t, 0)), "different"))
    val overlap = (0 until templates).map(t =>
      ordered(urlOf(seed, nearMissId(t)), urlOf(seed, memberId(t, 0)), "overlap"))
    same ++ different ++ overlap
  }
}

object MirrorGen {

  /** Independent stream per (seed, channel, key): splitmix64 mixing, so no
    * two (channel, key) combinations share a generator state.
    */
  def rng(seed: Long, channel: Long, key: Long): java.util.SplittableRandom = {
    def mix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    new java.util.SplittableRandom(
      mix(mix(mix(seed) + channel * 0x9e3779b97f4a7c15L) + key))
  }

  /** ≤2 token edits (swap or replace), then cosmetic noise the extraction
    * stage normalizes away: case, a trailing comma, runs of whitespace.
    */
  def mutate(base: Array[String], r: java.util.SplittableRandom): String = {
    val ws = base.clone()
    val edits = r.nextInt(3)
    var e = 0
    while (e < edits) {
      val i = r.nextInt(ws.length - 1)
      if (r.nextBoolean()) { val t = ws(i); ws(i) = ws(i + 1); ws(i + 1) = t }
      else ws(i) = PagesGen.vocab(r.nextInt(PagesGen.vocab.length))
      e += 1
    }
    val sb = new StringBuilder
    var i = 0
    while (i < ws.length) {
      sb.append(r.nextInt(6) match {
        case 0 => ws(i).toUpperCase
        case 1 => ws(i).capitalize
        case 2 => ws(i) + ","
        case _ => ws(i)
      })
      if (i < ws.length - 1) sb.append(if (r.nextInt(5) == 0) "  " else " ")
      i += 1
    }
    sb.toString
  }
}
