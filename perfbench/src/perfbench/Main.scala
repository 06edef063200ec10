package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.perfbench.Internals
import graft.RunDedup
import graft.config.GraftConfig
import graft.pipeline.DedupPipeline

/** Benchmark harness: generates a workload's input from the seed, runs the
  * program's public entry points as a closed loop with one client on
  * `local[<cores>]`, checks every output against the planted truth and
  * prints one JSON result line last.
  *
  * Untraced runs time whole `RunDedup.run` calls (end-to-end metrics).
  * Traced runs call the `DedupPipeline` stage methods one by one, each in
  * its own span (per-layer metrics), and dump the spans as JSON.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traceOut: String)

  /** Workload shapes. `gen(b)` is the generator of batch b; single-corpus
    * workloads have one batch.
    */
  final case class Workload(name: String, gen: Int => MirrorGen, batched: Boolean,
      configProps: String = "")

  val BatchDocs = 2000L
  val workloads: Map[String, Workload] = Seq(
    // the bucket cap scales with the corpus: the hottest template (~735
    // copies) is far above it, the next (~185) below it
    Workload("mirror_skew", _ => MirrorGen(1500, 1200, 60, 2.0), batched = false,
      configProps = "lsh.max_bucket_size=200\n"),
    Workload("small_batches", b => MirrorGen((b + 1) * BatchDocs, 0, 0, 0), batched = true)
  ).map(w => w.name -> w).toMap

  /** One measured program call. */
  final case class Sample(wallS: Double, cpuS: Double, shuffleMb: Double, peakMb: Double, jobs: Int)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val o = parse(args)
    val wl = workloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}; one of " +
        workloads.keys.toSeq.sorted.mkString(", ")))
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = new BenchListener
    spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val code =
      try new Run(spark, listener, wl, o, cores, sessionS).run()
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          3
      } finally spark.stop()
    System.out.flush()
    sys.exit(code)
  }

  private def parse(args: Array[String]): Opts = {
    def loop(rest: List[String], m: Map[String, String]): Map[String, String] = rest match {
      case k :: v :: t if k.startsWith("--") => loop(t, m + (k.drop(2) -> v))
      case Nil => m
      case bad => throw new IllegalArgumentException(s"bad arguments: ${bad.mkString(" ")}")
    }
    val m = loop(args.toList, Map.empty)
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("trace-out", s"${m("work")}/spans.json"))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Steal and own-process CPU time, to show host noise beside each run. */
object Host {
  /** Cumulative CPU steal of the whole host, in seconds (/proc/stat). */
  def stealS: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100.0 finally src.close()
    } catch { case _: Throwable => 0.0 }

  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }
}

final class Run(spark: SparkSession, listener: BenchListener, wl: Main.Workload,
    o: Main.Opts, cores: Int, sessionS: Double) {
  import Main._

  private val sc = spark.sparkContext
  private val props = s"${o.work}/graft.properties"
  private val cfg = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.work))
    java.nio.file.Files.write(java.nio.file.Paths.get(props), wl.configProps.getBytes("UTF-8"))
    GraftConfig.fromPropertiesFile(props)
  }
  private var attempted = 0
  private var failed = 0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private var nextBatch = 0

  private def say(s: String): Unit = { println(s"[perfbench] $s"); System.out.flush() }

  /** Next input: the single corpus (generated once), or the next disjoint
    * batch. Generation is never inside a timed call.
    */
  private def corpus(): Corpus =
    if (!wl.batched && single != null) single
    else {
      val b = nextBatch
      nextBatch += 1
      val gen = wl.gen(b)
      val c = Corpus.write(spark, gen, o.seed, if (wl.batched) b * BatchDocs else 0L,
        gen.total, s"${o.work}/input-$b")
      if (!wl.batched) single = c
      c
    }
  private var single: Corpus = _

  private def args(c: Corpus, tag: String, ckpt: Boolean) = RunDedup.Args(
    input = c.path, output = s"${o.work}/out-$tag",
    checkpoint = if (ckpt) Some(s"${o.work}/ckpt-$tag") else None,
    configProps = Some(props))

  /** Time one program call and take its Spark counters. */
  private def measure(body: => Unit): Sample = {
    Internals.drain(sc)
    val (j0, c0, s0) = listener.totals
    listener.resetPeak(sc.emptyRDD[Unit].id)
    val t = System.nanoTime()
    body
    val wall = (System.nanoTime() - t) / 1e9
    Internals.drain(sc)
    val (j1, c1, s1) = listener.totals
    Sample(wall, (c1 - c0) / 1e9, (s1 - s0) / 1e6, listener.peakStorage / 1e6, j1 - j0)
  }

  /** Count an attempted program call; a throw or a failed check is a failure. */
  private def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        say(s"FAILED $what: $e")
        None
    }
  }

  private def check(what: String, out: String, c: Corpus): Unit = {
    val v = Truth.check(spark, out, c)
    recalls += v.recall
    say(f"check $what: recall=${v.recall}%.5f false_merge_pairs=${v.falseMergePairs} " +
      s"hard_negatives_merged=${v.differentMerged}" +
      (if (v.ok) "" else " PROBLEMS: " + v.problems.mkString("; ")))
    if (!v.ok) failed += 1
  }

  /** One untraced iteration: a fresh `RunDedup.run` (a batch with
    * checkpoints in small_batches, then its resume).
    */
  private def iteration(i: Int, c: Corpus, batch: mutable.Buffer[Sample],
      resume: mutable.Buffer[Sample]): Unit = {
    val a = args(c, s"u$i", ckpt = wl.batched)
    attempt(s"run $i")(measure(RunDedup.run(spark, a))).foreach { s =>
      batch += s
      check(s"run $i", a.output, c)
      if (wl.batched)
        attempt(s"resume $i")(measure(RunDedup.run(spark, a.copy(output = a.output + "-r"))))
          .foreach { r =>
            resume += r
            check(s"resume $i", a.output + "-r", c)
          }
    }
  }

  /** Closed loop with one client: start another iteration while the window
    * has time left; always run at least one.
    */
  private def loop(seconds: Double)(body: Int => Unit): Unit = {
    val start = System.nanoTime()
    var i = 0
    while (i == 0 || (System.nanoTime() - start) / 1e9 < seconds) {
      body(i)
      i += 1
    }
  }

  def run(): Int = {
    say(s"workload=${wl.name} seed=${o.seed} cores=$cores trace=${if (o.trace) 1 else 0}")
    // warm-up: one full iteration (untimed in the metrics, part of setup)
    val tGen = System.nanoTime()
    val first = corpus()
    val genS = (System.nanoTime() - tGen) / 1e9
    val warmT = System.nanoTime()
    iteration(-1, first, mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty)
    val setupS = sessionS + (System.nanoTime() - warmT) / 1e9
    say(f"setup: session=$sessionS%.3f s warm-up=${setupS - sessionS}%.3f s (input generation $genS%.3f s excluded)")

    val steal0 = Host.stealS
    val cpu0 = Host.processCpuS
    val wall0 = System.nanoTime()
    val metrics =
      if (o.trace) traced()
      else untraced(setupS)
    val stealS = Host.stealS - steal0
    say(f"host: steal_s=$stealS%.3f process_cpu_s=${Host.processCpuS - cpu0}%.3f " +
      f"wall_s=${(System.nanoTime() - wall0) / 1e9}%.3f cores=$cores")
    val all = if (o.trace) metrics + ("host.steal_s" -> (stealS, "s")) else metrics
    val correct = failed == 0 && recalls.nonEmpty
    say(s"attempted=$attempted failed=$failed error_rate=${failed.toDouble / math.max(1, attempted)}")
    val ms = all.toSeq.sortBy(_._1).map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}""")
    if (correct) 0 else 1
  }

  private def untraced(setupS: Double): Map[String, (Double, String)] = {
    val batch = mutable.ArrayBuffer.empty[Sample]
    val resume = mutable.ArrayBuffer.empty[Sample]
    var docs = 0.0
    loop(o.seconds) { i =>
      val c = corpus()
      docs = c.docs.toDouble
      iteration(i, c, batch, resume)
    }
    batch.zipWithIndex.foreach { case (s, i) =>
      say(f"run $i: wall=${s.wallS}%.3f s cpu=${s.cpuS}%.3f s shuffle=${s.shuffleMb}%.2f MB " +
        f"peak_storage=${s.peakMb}%.2f MB jobs=${s.jobs}")
    }
    resume.zipWithIndex.foreach { case (s, i) =>
      say(f"resume $i: wall=${s.wallS}%.3f s jobs=${s.jobs}")
    }
    say(s"samples: runs=${batch.size} resumes=${resume.size}")
    if (resume.nonEmpty) say(f"resume_p50_s=${median(resume.map(_.wallS).toSeq)}%.4f")
    def med(f: Sample => Double) = median(batch.map(f).toSeq)
    Map(
      "setup_s" -> (setupS, "s"),
      "docs_per_s" -> (docs / med(_.wallS), "docs/s"),
      "cpu_s_per_kdoc" -> (med(_.cpuS) / docs * 1000, "s"),
      "shuffle_mb_per_kdoc" -> (med(_.shuffleMb) / docs * 1000, "MB"),
      "peak_storage_mb" -> (med(_.peakMb), "MB"),
      "dup_pair_recall" -> (if (recalls.isEmpty) 0.0 else recalls.min, "ratio"))
  }

  // ------------------------------------------------------------------ traced

  private val StageSpans = Seq("extract", "signatures", "candidates", "decisions", "labels", "canonicals")
  private val SpanMetrics = Seq("wall_s", "cpu_s", "driver_s", "jobs", "shuffle_write_mb",
    "shuffle_read_mb", "spill_mb", "rows_out", "exchanges")

  private def traced(): Map[String, (Double, String)] = {
    val tracer = new Tracer(sc, listener)
    // untraced baseline in the same window, for the tracing overhead
    val base = mutable.ArrayBuffer.empty[Sample]
    iteration(0, corpus(), base, mutable.ArrayBuffer.empty)
    val iterWalls = mutable.ArrayBuffer.empty[Double]
    val ratios = mutable.ArrayBuffer.empty[Map[String, Double]]
    loop(o.seconds - base.map(_.wallS).sum) { i =>
      attempt(s"traced $i")(tracedIteration(i, tracer)).foreach { case (wall, r) =>
        iterWalls += wall
        ratios += r
      }
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(o.traceOut).getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(o.traceOut), tracer.json.getBytes("UTF-8"))
    val overhead = median(iterWalls.toSeq) - median(base.map(_.wallS).toSeq)
    say(f"trace: ${tracer.spans.size} spans -> ${o.traceOut}; tracing overhead " +
      f"(traced - untraced iteration wall) = $overhead%.3f s")
    tracer.spans.filter(_.name != "iteration").foreach { s =>
      say(f"span ${s.id}%-40s wall=${s.wallS}%.3f s " +
        s.values.filter(_._1 != "wall_s").map { case (k, v) => f"$k=$v%.3f" }.mkString(" "))
    }
    def perSpan(name: String, metric: String): Double = {
      val vs = tracer.spans.filter(_.name == name).flatMap(_.values.get(metric))
      if (vs.isEmpty) 0.0 else median(vs.toSeq)
    }
    def unit(m: String) = if (m.endsWith("_s")) "s" else if (m.endsWith("_mb")) "MB"
      else if (m == "rows_out") "rows" else "count"
    val stage = for (s <- StageSpans; m <- SpanMetrics) yield s"$s.$m" -> (perSpan(s, m), unit(m))
    val extra = for (s <- Seq("output", "resume"); m <- Seq("wall_s", "jobs"))
      yield s"$s.$m" -> (perSpan(s, m), unit(m))
    def ratio(k: String) = median(ratios.map(_(k)).toSeq)
    (stage ++ extra).toMap ++ Map(
      "candidates.pairs_per_doc" -> (ratio("pairs_per_doc"), "ratio"),
      "candidates.star_pairs" -> (ratio("star_pairs"), "count"),
      "decisions.match_share" -> (ratio("match_share"), "ratio"),
      "decisions.ambiguous_share" -> (ratio("ambiguous_share"), "ratio"),
      "trace.overhead_s" -> (overhead, "s"))
  }

  /** One traced iteration: each stage method in its own span and forced at
    * its boundary, then the canonicals write, then (batched) the resume.
    * Returns the iteration wall time and the useful-work ratios.
    */
  private def tracedIteration(i: Int, tracer: Tracer): (Double, Map[String, Double]) = {
    val c = corpus()
    val trace = s"${wl.name}-it$i"
    val a = args(c, s"t$i", ckpt = wl.batched)
    val (p, cand, dec) = tracer.span("iteration", trace) {
      val pages = spark.read.parquet(c.path)
      val p = new DedupPipeline(spark, cfg, a.checkpoint,
        ckptKeyExtra = if (wl.batched) graft.perfbench.Access.inputFingerprint(spark, c.path, pages) else "")
      def stage(name: String)(compute: => DataFrame): DataFrame = {
        val (df, rows) = tracer.span(name, trace) {
          val df = compute
          (df, df.queryExecution.toRdd.count())
        }
        val s = tracer.last(name)
        s.values("rows_out") = rows.toDouble
        tracer.addPlanExchanges(s, df.queryExecution.executedPlan)
        df
      }
      val ext = stage("extract")(p.extracted(pages))
      val sig = stage("signatures")(p.signatures(ext))
      val cand = stage("candidates")(p.candidates(sig))
      val dec = stage("decisions")(p.decisions(cand, sig, ext))
      val lab = stage("labels")(p.labels(sig, dec))
      val can = stage("canonicals")(p.canonicals(lab, ext, Some(dec)))
      tracer.span("output", trace)(can.write.mode("overwrite").parquet(a.output))
      (p, cand, dec)
    }
    val wall = tracer.last("iteration").wallS
    val candRows = tracer.last("candidates").values("rows_out")
    val decRows = math.max(1.0, tracer.last("decisions").values("rows_out"))
    val j = dec.col("exact_jaccard")
    val ratios = Map(
      "pairs_per_doc" -> candRows / c.docs,
      "star_pairs" -> cand.where(col("cand_tier") === "star").count().toDouble,
      "match_share" -> dec.where(col("decision") === "match").count() / decRows,
      "ambiguous_share" -> dec.where(j >= cfg.lsh.ambiguousLow && j < cfg.lsh.jaccardThreshold)
        .count() / decRows)
    if (!wl.batched) p.unpersistAll()
    check(s"traced $i", a.output, c)
    if (wl.batched) {
      tracer.span("resume", trace)(RunDedup.run(spark, a.copy(output = a.output + "-r")))
      check(s"resume $i", a.output + "-r", c)
    }
    (wall, ratios)
  }
}
