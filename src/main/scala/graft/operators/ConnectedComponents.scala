package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components over a DataFrame edge list.
  *
  * Reference analog: `nx.connected_components`
  * (`/root/reference/src/event_dedup/clustering/graph_cluster.py:78`) — an
  * in-memory single-node pass. At 10^12-node scale the graph never fits one
  * machine, so this is the alternating large-star/small-star contraction of
  * Kiveris et al., "Connected Components in MapReduce and Beyond" (SOCC'14),
  * expressed purely as DataFrame joins + aggregations:
  *
  *   large-star: every neighbor v > u links to m = min(N(u) ∪ {u})
  *   small-star: every neighbor v <= u (and u itself) links to m
  *
  * Converges in O(log n) rounds to a star per component (every node points
  * at the component minimum). `localCheckpoint` after every round cuts the
  * lineage that would otherwise grow exponentially (SURVEY.md §7.4).
  * Convergence is detected distributedly — count + order-independent
  * hash-sum of the edge set — never by collecting labels to the driver.
  */
object ConnectedComponents {

  /** Distributed rounds before [[run]] gives up: far beyond any real
    * graph's contraction depth.
    */
  private val MaxRounds = 50

  /** @param edges DataFrame with two LongType columns `src`, `dst` (undirected;
    *              orientation/duplicates are fine — symmetrized internally).
    * @param driverFinishEdges adaptive small-graph cutover: when the ACTIVE
    *              edge set (initially, or after any contraction round — its
    *              size is already measured every round by the convergence
    *              aggregation) is at most this many edges, finish with a
    *              local union-find instead of more distributed rounds. Each
    *              avoided round saves 2 shuffles + a driver barrier — the
    *              dominant FIXED latency of the whole pipeline on sparse dup
    *              graphs. This is the same adaptive small-side reasoning AQE
    *              applies when it converts a shuffle join to broadcast: the
    *              default (2^20 edges = 16 MB) is far below driver capacity,
    *              and at 10^12-doc scale the early rounds stay fully
    *              distributed, cutting over only once contraction has shrunk
    *              the frontier to trivial size (or never, for components
    *              whose union exceeds the threshold). 0 disables.
    * @return DataFrame (node: Long, component: Long) for every node appearing
    *         in `edges`, where component = min node id of its component.
    *         Callers union in singletons from the vertex universe themselves
    *         (graph_cluster.py:65-66 semantics).
    * @param maxEdgeRows an upper bound on the rows of `edges` the caller
    *              knows without a job (the pipeline passes the `decisions`
    *              stage's row count). At most `driverFinishEdges`, the edges
    *              are collected in one job; otherwise the cutover is a
    *              bounded take, which Spark runs incrementally, one job per
    *              growing batch of partitions.
    *
    * The cutover take reads `edges` once; the distributed branch reads it a
    * second time. In the pipeline `edges` is the `decisions` stage leaf.
    */
  def run(edges: DataFrame, driverFinishEdges: Int = 1 << 20,
      maxEdgeRows: Option[Long] = None): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._

    // canonical orientation, self-loops dropped: (b,a) becomes (a,b).
    // Duplicate rows cannot change union-find labels, so the finisher takes
    // the rows as they come; only the distributed rounds need them unique.
    val canonical = edges
      .select($"src".cast("long"), $"dst".cast("long"))
      .where($"src" =!= $"dst")
      .select(least($"src", $"dst").as("src"), greatest($"src", $"dst").as("dst"))

    if (driverFinishEdges > 0) {
      // one bounded take: if it comes back short we already hold the edges.
      // Not coalesce(1) for the known-small case: at scale one task would
      // scan serially for the first driverFinishEdges + 1 edges.
      val head =
        if (maxEdgeRows.exists(_ <= driverFinishEdges)) canonical.collect()
        else canonical.take(driverFinishEdges + 1)
      if (head.length <= driverFinishEdges)
        return localLabels(spark, head.map(r => (r.getLong(0), r.getLong(1))))
    }

    // Round 1's shuffle grows with every repeated row, so dedup here. A
    // graph whose repeats (say, every edge recorded both ways) push its raw
    // count over the cutover starts distributed; once round 1 has deduped
    // and contracted it, the per-round count check below hands it back to
    // the finisher.
    var e = canonical.distinct().localCheckpoint(true)
    var converged = false
    var iter = 0
    var prevSig: (Long, String) = (-1L, "")

    while (!converged && iter < MaxRounds) {
      val ls = largeStar(e)
      // lazy checkpoint: the convergence aggregation below is the ONE action
      // per round and materializes the checkpoint as a side effect — two
      // driver round-trips per round would double the serial fraction.
      val ss = smallStar(ls).localCheckpoint(false)
      // decimal sum: ANSI mode would overflow a LongType sum of 64-bit hashes
      val sigRow = ss
        .agg(count(lit(1)).cast("long").as("n"),
          coalesce(sum(xxhash64($"src", $"dst").cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).cast("string").as("h"))
        .as[(Long, String)]
        .first()
      converged = sigRow == prevSig
      prevSig = sigRow
      e.unpersist()
      e = ss
      iter += 1

      if (!converged && driverFinishEdges > 0 && sigRow._1 <= driverFinishEdges) {
        // contraction shrank the frontier under the cutover — finish locally
        val rows = e.as[(Long, Long)].collect()
        val out = localLabels(spark, rows)
        e.unpersist()
        return out
      }
    }

    // Labels below assume the star invariant, which only holds AFTER
    // convergence — deriving them from a non-converged edge set would
    // silently label one true component as several (under-merge). Fail
    // loud instead: hitting MaxRounds means something is wrong.
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge within $MaxRounds rounds")

    // After convergence every edge is (node > min) -> min: the star. Labels:
    val nodeToMin = e.select($"src".as("node"), $"dst".as("component"))
      .union(e.select($"dst".as("node"), $"src".as("component")))
      .groupBy($"node")
      .agg(min($"component").as("component"))
      .select($"node", least($"node", $"component").as("component"))
    nodeToMin
  }

  /** Local union-find over a driver-held edge array (the adaptive
    * small-graph finisher of [[run]]). Union-by-min + path compression:
    * the min id wins every union, so each root IS its component's label —
    * identical output to the distributed contraction.
    */
  private def localLabels(spark: SparkSession, edges: Array[(Long, Long)]): DataFrame = {
    import spark.implicits._
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (s, d) =>
      parent.getOrElseUpdate(s, s)
      parent.getOrElseUpdate(d, d)
      val rs = find(s)
      val rd = find(d)
      if (rs != rd) {
        if (rs < rd) parent(rd) = rs else parent(rs) = rd
      }
    }
    // Broadcast hint: this label table is driver-held and BOUNDED (≤ 2×
    // driverFinishEdges nodes) while the vertex table it joins downstream is
    // corpus-sized — the hint ships it once per executor via torrent
    // broadcast and keeps the corpus side shuffle-free through the labels
    // join. The rows are parallelized into ≤ ~512 KiB slices FIRST: a bare
    // LocalRelation only takes the broadcast path in JOIN consumers, while
    // non-join consumers (the checkpoint write, cluster-size aggregations)
    // plan LocalTableScanExec, which splits the rows across just
    // defaultParallelism tasks — at 2M finisher labels that embedded
    // 1.6-6.4 MB row chunks per task binary (the BENCH_r04/r05
    // "task of very large size" TaskSetManager warnings, sized exactly
    // inversely to the executor count).
    val labels = parent.keys.toSeq.map(k => (k, find(k)))
    val slices = math.max(spark.sparkContext.defaultParallelism,
      1 + labels.length / 16384) // ~16k (Long,Long) rows ≈ 512 KiB serialized
    broadcast(spark.sparkContext.parallelize(labels, slices)
      .toDF("node", "component"))
  }

  /** large-star: for each u over the symmetrized neighborhood,
    * m = min(N(u) ∪ {u}); emit (v, m) for v ∈ N(u) with v > u.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val nbrs = e.select($"src".as("u"), $"dst".as("v"))
      .union(e.select($"dst".as("u"), $"src".as("v")))
    val m = nbrs.groupBy($"u").agg(min($"v").as("mv"))
      .select($"u", least($"mv", $"u").as("m"))
    nbrs.join(m, "u")
      .where($"v" > $"u")
      .select($"v".as("src"), $"m".as("dst"))
      .where($"src" =!= $"dst")
      .distinct()
  }

  /** small-star: orient edges so src > dst; for each u, over its smaller
    * neighbors N = {v <= u}, m = min(N ∪ {u}); emit (v, m) for
    * v ∈ N ∪ {u}, v ≠ m.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val oriented = e.select(greatest($"src", $"dst").as("u"), least($"src", $"dst").as("v"))
    // m = min(N ∪ {u}) = min(v) since every v < u here. No collect_set: a
    // high-degree hub would otherwise materialize its whole neighborhood in
    // one aggregation buffer.
    val m = oriented.groupBy($"u").agg(min($"v").as("m"))
    oriented.join(m, "u")
      .where($"v" =!= $"m")
      .select($"v".as("src"), $"m".as("dst"))
      .union(m.select($"u".as("src"), $"m".as("dst"))) // u itself links to m (u > m always)
      .distinct()
  }

  /** Labels for a full vertex universe: every id in `vertices` gets a
    * component; ids with no edges become singleton components (their own id) —
    * reference semantics graph_cluster.py:63-66.
    *
    * @param vertices DataFrame with a single LongType column `node`; an id
    *   may repeat (a url ingested twice), the output still holds ONE row per
    *   distinct id — a repeated label row would multiply every downstream
    *   join on `node`.
    * @param maxEdgeRows a job-free upper bound on the rows of `edges`, see [[run]].
    */
  def labelsWithSingletons(vertices: DataFrame, edges: DataFrame,
      maxEdgeRows: Option[Long] = None): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._
    val labeled = run(edges, maxEdgeRows = maxEdgeRows)
    vertices.select($"node".cast("long")).distinct()
      .join(labeled, Seq("node"), "left")
      .select($"node", coalesce($"component", $"node").as("component"))
  }
}
