package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import graft.config.GraftConfig
import graft.operators.ConnectedComponents
import graft.pipeline.DedupPipeline

/** The profiler main; `graft.Bench` stays the frozen measurement surface.
  *  - `stages <level> <nDocs> [rounds] [ckpt]`: each pipeline stage, per
  *    round (default 2); `ckpt` checkpoints the stages as RunDedup does,
  *    under `<graft.localDir>/profile_ckpt_<round>`, instead of persisting.
  *  - `queries <all|bench|prefix,...> [reps] [plansDir]`: min of `reps`
  *    (default 3) per `SparkEntry` query over `$SPARK_GRAFT_SF_DIR`, each
  *    after one `warm` run that the min leaves out; `bench` is the set
  *    `Bench` times; `plansDir` gets each formatted plan.
  *  - `scale <nDocs> <reps> <level...>`: the pipeline, min of reps, per level.
  *  - `cc <nEdges> [reps]`: `ConnectedComponents.run` on a planted graph of
  *    `nEdges` edges ([[plantedGraph]]), per rep (default 2) once fully
  *    distributed (`driverFinishEdges = 0`) and once at the default cutover.
  * A level is `N` (`local[N]`) or `WxC` (`local-cluster`, W executor JVMs ×
  * C cores; needs SPARK_HOME and SPARK_SCALA_VERSION; `-Dgraft.execMemGb`,
  * default 10, sizes each executor). Corpora are `Bench.corpusPath`'s, built
  * at `local[$SPARK_GRAFT_CPUS]` (default all cores), where `queries` runs
  * too. `-Dgraft.localDir` (default /dev/shm/graft-spark) holds Spark's
  * local data. For 64 MB broadcast joins run the JVM with
  * `-Dspark.sql.autoBroadcastJoinThreshold=64m -Dspark.sql.adaptive.autoBroadcastJoinThreshold=64m`.
  * Each measurement prints wall and process CPU seconds and its Spark job
  * count; CPU only at local levels, since `WxC` executors are other JVMs.
  */
object Profile {
  sealed trait Run
  final case class Stages(level: String, docs: Long, rounds: Int, ckpt: Boolean) extends Run
  final case class Queries(names: Seq[String], reps: Int, plansDir: Option[String]) extends Run
  final case class Scale(docs: Long, reps: Int, levels: Seq[String]) extends Run
  final case class Cc(edges: Long, reps: Int) extends Run

  // Bench skips the same four: intentionally quadratic oracle configs and
  // streaming-harness startup, not engine throughput
  private val verifyOnly = Set("q30_ann_lsh_topk", "q31_embedding_neardup",
    "q40_ann_ivf_topk", "q58_stream_host_windows")

  /** Level spec: Left(threads) or Right((workers, coresEach)), all ≥ 1. */
  def parseLevel(level: String): Either[Int, (Int, Int)] = {
    def pos(s: String) = s.nonEmpty && s.length <= 9 && s.forall(_.isDigit) && s.toInt >= 1
    level.split("x", -1) match {
      case Array(n) if pos(n) => Left(n.toInt)
      case Array(w, c) if pos(w) && pos(c) => Right((w.toInt, c.toInt))
      case _ => throw new IllegalArgumentException(
        s"bad level spec '$level': want N (threads) or WxC (executor JVMs x cores), all >= 1")
    }
  }

  /** Validates every argument without starting Spark: a typo must fail
    * before a corpus is generated or an executor JVM spawns.
    */
  def parse(args: Seq[String]): Run = {
    def bad(what: String, s: String) =
      throw new IllegalArgumentException(s"$what must be an integer >= 1, got '$s'")
    def positive(what: String, s: String): Long = s.toLongOption.filter(_ >= 1).getOrElse(bad(what, s))
    def docs(s: String): Long = positive("nDocs", s)
    def reps(s: Option[String], default: Int): Int =
      s.fold(default)(r => r.toIntOption.filter(_ >= 1).getOrElse(bad("reps", r)))
    args match {
      case Seq("stages", level, n, rest @ _*) if rest.length <= 2 =>
        parseLevel(level)
        rest.drop(1).foreach(f => require(f == "ckpt", s"unknown stages flag '$f' (known: ckpt)"))
        Stages(level, docs(n), reps(rest.headOption, 2), rest.length == 2)
      case Seq("queries", sel, rest @ _*) if rest.length <= 2 =>
        val all = SparkEntry.queries.keys.toSeq.sorted
        val names = sel match {
          case "all" => all
          case "bench" => all.filterNot(verifyOnly)
          case prefixes => prefixes.split(",", -1).toSeq.flatMap { p =>
            val hit = all.filter(n => p.nonEmpty && n.startsWith(p))
            require(hit.nonEmpty, s"selector '$p' matches no query")
            hit
          }.distinct.sorted
        }
        Queries(names, reps(rest.headOption, 3), rest.lift(1))
      case Seq("scale", n, r, levels @ _*) if levels.nonEmpty =>
        levels.foreach(parseLevel)
        Scale(docs(n), reps(Some(r), 1), levels)
      case Seq("cc", n, rest @ _*) if rest.length <= 1 =>
        Cc(positive("nEdges", n), reps(rest.headOption, 2))
      case _ => throw new IllegalArgumentException("usage: stages <level> <nDocs> [rounds] " +
        "[ckpt] | queries <all|bench|prefix,...> [reps] [plansDir] | scale <nDocs> <reps> <level...> " +
        "| cc <nEdges> [reps]")
    }
  }

  private def localDir = sys.props.getOrElse("graft.localDir", "/dev/shm/graft-spark")
  private def cpus = sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors)(_.toInt)

  private def session(level: String): SparkSession = {
    val b = SparkSession.builder().appName(s"graft-profile-$level")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.local.dir", localDir)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val s = (parseLevel(level) match {
      case Left(t) => b.master(s"local[$t]")
      case Right((w, c)) =>
        // one knob sizes the worker budget, the executor heap and its -Xms
        // together: an -Xms above the heap kills every executor at launch
        val memGb = sys.props.getOrElse("graft.execMemGb", "10").toInt
        b.master(s"local-cluster[$w,$c,${(memGb + 2) * 1024}]")
          .config("spark.executor.memory", s"${memGb}g")
          .config("spark.executor.extraJavaOptions", s"-Xms${memGb}g -XX:+AlwaysPreTouch")
          .config("spark.network.timeout", "600s")
          .config("spark.executor.extraClassPath", new java.io.File(
            getClass.getProtectionDomain.getCodeSource.getLocation.toURI).getAbsolutePath)
    }).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    Quiet.hintWarnings()
    s
  }

  private final case class Cost(wall: Double, cpu: Option[Double], jobs: Int) {
    def +(o: Cost): Cost = Cost(wall + o.wall, cpu.zip(o.cpu).map(t => t._1 + t._2), jobs + o.jobs)
    override def toString: String =
      f"$wall%8.2f s wall ${cpu.fold("       -")(c => f"$c%8.2f")} s cpu $jobs%4d jobs"
  }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val groups = new java.util.concurrent.atomic.AtomicInteger()

  /** Builds `body` under its own job group, forces it through the noop sink
    * and prints `label` with its cost.
    */
  private def measure(spark: SparkSession, label: String)(body: => DataFrame): (DataFrame, Cost) = {
    val sc = spark.sparkContext
    val group = s"profile-${groups.incrementAndGet()}"
    sc.setJobGroup(group, label)
    val (w0, c0) = (System.nanoTime(), os.getProcessCpuTime)
    try {
      val df = body
      df.write.mode("overwrite").format("noop").save()
      val cost = Cost((System.nanoTime() - w0) / 1e9,
        Option.when(sc.isLocal)((os.getProcessCpuTime - c0) / 1e9),
        sc.statusTracker.getJobIdsForGroup(group).length)
      println(f"$label%-40s $cost")
      (df, cost)
    } finally sc.clearJobGroup()
  }

  private def stages(r: Stages): Unit = {
    val spark = session(r.level)
    val pages = spark.read.parquet(Bench.corpusPath(spark, r.docs))
    // a killed run with more rounds leaves later dirs pinned on tmpfs
    if (r.ckpt) Option(new java.io.File(localDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("profile_ckpt_")).foreach(FileUtils.deleteQuietly)
    for (round <- 1 to r.rounds) {
      val workDir = Option.when(r.ckpt)(s"$localDir/profile_ckpt_$round")
      val p = new DedupPipeline(spark, GraftConfig.default, workDir)
      val costs = scala.collection.mutable.ArrayBuffer.empty[Cost]
      def m(name: String)(stage: => DataFrame): DataFrame = {
        val (df, cost) = measure(spark, s"[profile] r$round $name")(stage)
        costs += cost
        df
      }
      val ext = m("extracted")(p.extracted(pages))
      val sigs = m("signatures")(p.signatures(ext))
      val cands = m("candidates")(p.candidates(sigs))
      val decs = m("decisions")(p.decisions(cands, sigs, ext))
      val lbls = m("labels")(p.labels(sigs, decs))
      m("clusters")(p.clusters(lbls, ext, Some(decs)))
      m("canonicals")(p.canonicals(lbls, ext, Some(decs)))
      println(f"${s"[profile] r$round TOTAL"}%-40s ${costs.reduce(_ + _)}")
      p.unpersistAll()
      // free this round's tmpfs data now: stage sets piling up next to the
      // executor heaps are how the OOM killer takes runs
      workDir.foreach(d => FileUtils.deleteQuietly(new java.io.File(d)))
    }
    spark.stop()
  }

  private def queries(r: Queries): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException("queries reads SPARK_GRAFT_SF_DIR, which is unset"))
    val spark = session(cpus.toString)
    r.plansDir.foreach(d => new java.io.File(d).mkdirs())
    // a failed query is reported, never timed as its failure latency
    val best = r.names.flatMap { name =>
      val fn = SparkEntry.queries(name)
      try {
        r.plansDir.foreach(d => java.nio.file.Files.writeString(java.nio.file.Paths.get(
          s"$d/$name.txt"), fn(spark, sfDir).queryExecution.explainString(FormattedMode)))
        // JIT, codegen and scan init of this query's operators land here,
        // not on rep1
        measure(spark, f"[query] $name%-28s warm")(fn(spark, sfDir))
        val min = (1 to r.reps)
          .map(i => measure(spark, f"[query] $name%-28s rep$i")(fn(spark, sfDir))._2).minBy(_.wall)
        println(f"[query] $name%-33s best $min")
        Some(min)
      } catch { case e: Exception =>
        System.err.println(s"[query] $name FAILED: $e")
        None
      }
    }
    if (best.nonEmpty) println(f"${s"[query] TOTAL of ${best.size} best"}%-40s ${best.reduce(_ + _)}")
    spark.stop()
  }

  private def scale(r: Scale): Unit = {
    val gen = session(cpus.toString)
    val path = Bench.corpusPath(gen, r.docs)
    def pipeline(spark: SparkSession, label: String): Cost = {
      val pages = spark.read.parquet(path)
      val p = new DedupPipeline(spark, GraftConfig.default)
      try measure(spark, label)(p.run(pages))._2 finally p.unpersistAll()
    }
    // executor levels warm their own fresh JVMs on the first rep (read the
    // min of reps >= 2 there); thread levels share this JVM's warm-up
    if (r.levels.exists(!_.contains("x"))) pipeline(gen, "[scale] warm-up")
    gen.stop()
    r.levels.foreach { level =>
      val spark = session(level)
      val best = (1 to r.reps).map(i => pipeline(spark, s"[scale] level=$level rep$i")).minBy(_.wall)
      println(f"${s"[scale] level=$level best"}%-40s $best ${r.docs / best.wall}%8.0f docs/s")
      spark.stop()
    }
  }

  /** `n` edges in the shape of a sparse match graph: one path over the
    * first n/24 edges (ids 0 to n/24), then trees of four edges over the
    * rest (five ids each: a root, two children, one grandchild under each
    * child; the last tree may be cut short). At 470,000 edges that is a
    * path of 19,584 nodes and 112,605 trees.
    */
  private[graft] def plantedGraph(spark: SparkSession, n: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit, shiftright}
    val pathEdges = n / 24
    val path = spark.range(pathEdges).select(col("id").as("src"), (col("id") + 1).as("dst"))
    val root = lit(pathEdges + 1) + shiftright(col("id"), 2) * 5
    val child = col("id") % 4 + 1
    path.union(spark.range(n - pathEdges)
      .select((root + shiftright(child - 1, 1)).as("src"), (root + child).as("dst")))
  }

  private def cc(r: Cc): Unit = {
    val spark = session(cpus.toString)
    val edges = plantedGraph(spark, r.edges)
    val runs = Seq[(String, () => DataFrame)](
      "distributed" -> (() => ConnectedComponents.run(edges, driverFinishEdges = 0)),
      "cutover" -> (() => ConnectedComponents.run(edges)))
    val costs = (1 to r.reps).map { i =>
      runs.map { case (name, run) => measure(spark, s"[cc] n=${r.edges} $name rep$i")(run())._2 }
    }
    runs.map(_._1).zipWithIndex.foreach { case (name, j) =>
      println(f"${s"[cc] n=${r.edges} $name best"}%-40s ${costs.map(_(j)).minBy(_.wall)}")
    }
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    parse(args.toSeq) match {
      case r: Stages => stages(r)
      case r: Queries => queries(r)
      case r: Scale => scale(r)
      case r: Cc => cc(r)
    }
  }
}
