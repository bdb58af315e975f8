package graft

import org.apache.spark.graphx.{Edge, Graph, Pregel}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** GraphX/Pregel reference implementations of the graph kernels that
  * `graft.ops.Graphs` runs as DataFrame frontiers: BFS depths, connected
  * components, (personalized) PageRank, temporal earliest-arrival and
  * latest-departure, and the global triangle count. They are independent
  * of the engine's code, so the twin gates (GraphOpsSpec, ToleranceSpec,
  * RandomizedSpec, StreamingSpec) compare the production kernels against
  * them. Same inputs and output columns as the production kernels.
  */
object GraphXOracles {

  private def toGraph(edges: DataFrame): Graph[Unit, Int] = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    Graph.fromEdges(e, (), StorageLevel.MEMORY_AND_DISK, StorageLevel.MEMORY_AND_DISK)
  }

  /** Bounded-depth BFS from `seed`: (id, dist) for dist <= maxDepth.
    * Pregel min-plus; maxIterations bounds the supersteps.
    */
  def bfsDepths(s: SparkSession, edges: DataFrame, seed: Long, maxDepth: Int): DataFrame = {
    val g = toGraph(edges).mapVertices((id, _) =>
      if (id == seed) 0 else Int.MaxValue)
    val res = Pregel(g, Int.MaxValue, maxIterations = maxDepth)(
      (_, d, msg) => math.min(d, msg),
      t => if (t.srcAttr != Int.MaxValue && t.srcAttr + 1 < t.dstAttr)
        Iterator((t.dstId, t.srcAttr + 1)) else Iterator.empty,
      math.min)
    s.createDataFrame(res.vertices.filter(_._2 != Int.MaxValue)
      .map { case (id, d) => (id, d) })
      .toDF("id", "dist")
  }

  /** Connected components (GraphX label = min vertex id in component). */
  def connectedComponents(s: SparkSession, edges: DataFrame): DataFrame = {
    val res = toGraph(edges).connectedComponents()
    s.createDataFrame(res.vertices.map { case (id, lbl) => (id, lbl) })
      .toDF("id", "component")
  }

  /** Global triangle count; GraphX canonicalizes the pairs itself
    * (drops self-loops, orients and dedups each undirected edge).
    */
  def triangleCount(s: SparkSession, pairs: DataFrame): Long = {
    val e = pairs.select(col("x").cast("long"), col("y").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), 1))
    val g = Graph.fromEdges(e, (), StorageLevel.MEMORY_AND_DISK,
      StorageLevel.MEMORY_AND_DISK)
    g.triangleCount().vertices.map(_._2.toLong).reduce(_ + _) / 3
  }

  /** Static PageRank, fixed iteration count. */
  def pageRank(s: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    val ranks = toGraph(edges).staticPageRank(iters).vertices
    s.createDataFrame(ranks.map { case (id, r) => (id, r) })
      .toDF("id", "rank")
  }

  /** Personalized PageRank from `seed`. */
  def personalizedPageRank(s: SparkSession, edges: DataFrame, seed: Long,
      iters: Int): DataFrame = {
    val ranks = toGraph(edges).staticPersonalizedPageRank(seed, iters).vertices
    s.createDataFrame(ranks.map { case (id, r) => (id, r) })
      .toDF("id", "rank")
  }

  /** Temporal earliest-arrival: from `seed`, an edge (u,v) is usable only
    * if arrival(u) <= its availability time; arrival(v) = the hop's
    * arrival time. Bounded to `maxHops` Pregel supersteps.
    */
  def earliestArrival(s: SparkSession, edges: DataFrame, seed: Long,
      seedTsUs: Long, maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("avail_us").cast("long"), col("arrive_us").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), (r.getLong(2), r.getLong(3))))
    val g = Graph.fromEdges(e, Long.MaxValue, StorageLevel.MEMORY_AND_DISK,
        StorageLevel.MEMORY_AND_DISK)
      .mapVertices((id, _) => if (id == seed) seedTsUs else Long.MaxValue)
    val res = Pregel(g, Long.MaxValue, maxIterations = maxHops)(
      (_, a, msg) => math.min(a, msg),
      t => {
        val (avail, arrive) = t.attr
        if (t.srcAttr != Long.MaxValue && t.srcAttr <= avail && arrive < t.dstAttr)
          Iterator((t.dstId, arrive))
        else Iterator.empty
      },
      math.min)
    s.createDataFrame(res.vertices.filter(_._2 != Long.MaxValue)
      .map { case (id, a) => (id, a) })
      .toDF("id", "arrival_us")
  }

  /** Temporal latest-departure: max-aggregation Pregel seeded at the
    * target, messages flowing dst→src, bounded to `maxHops` supersteps.
    */
  def latestDeparture(s: SparkSession, edges: DataFrame, target: Long,
      deadlineUs: Long, maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("avail_us").cast("long"), col("arrive_us").cast("long"))
      .rdd.map(r => Edge(r.getLong(0), r.getLong(1), (r.getLong(2), r.getLong(3))))
    val g = Graph.fromEdges(e, Long.MinValue, StorageLevel.MEMORY_AND_DISK,
        StorageLevel.MEMORY_AND_DISK)
      .mapVertices((id, _) => if (id == target) deadlineUs else Long.MinValue)
    // the target's own value is pinned at the deadline: a cycle back
    // into the target (depart late, loop, re-arrive in time) must not
    // raise "latest departure from the target" past the deadline itself
    val res = Pregel(g, Long.MinValue, maxIterations = maxHops)(
      (id, d, msg) => if (id == target) d else math.max(d, msg),
      t => {
        val (avail, arrive) = t.attr
        if (t.dstAttr != Long.MinValue && arrive <= t.dstAttr &&
            avail > t.srcAttr && t.srcId != target)
          Iterator((t.srcId, avail))
        else Iterator.empty
      },
      math.max)
    s.createDataFrame(res.vertices.filter(_._2 != Long.MinValue)
      .map { case (id, d) => (id, d) })
      .toDF("id", "depart_us")
  }
}
