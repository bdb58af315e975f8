package graft.api

import graft.ops.Graphs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The engine's user-facing property-graph surface: vertices and edges as
  * plain DataFrames (`id`, ... / `src`, `dst`, ...), DataFrame plans for
  * the frequent degree/traversal shapes, DataFrame frontier iterations
  * behind the iterative algorithms (their GraphX twins live in test
  * scope as equivalence oracles). GraphFrames-like by design (it is not on the
  * classpath) but built directly on the engine's operators.
  */
case class PropertyGraph(vertices: DataFrame, edges: DataFrame) {
  private def spark: SparkSession = vertices.sparkSession

  /** Out-degree per vertex, zero-degree vertices included. */
  def outDegrees: DataFrame =
    vertices.select(col("id"))
      .join(edges.groupBy("src").count(), col("id") === col("src"), "left_outer")
      .select(col("id"), coalesce(col("count"), lit(0L)).as("out_degree"))

  /** In-degree per vertex, zero-degree vertices included. */
  def inDegrees: DataFrame =
    vertices.select(col("id"))
      .join(edges.groupBy("dst").count(), col("id") === col("dst"), "left_outer")
      .select(col("id"), coalesce(col("count"), lit(0L)).as("in_degree"))

  /** Distinct vertices reachable in 1..k hops from the seed set — a
    * single pipelined job of unrolled broadcast-frontier joins; k must be
    * small and fixed. Unbounded traversals go through [[bfs]], which
    * materializes levels and sizes each frontier adaptively.
    */
  def khop(seeds: DataFrame, k: Int): DataFrame = {
    require(k >= 1)
    Graphs.kHopIdsFrom(edges, seeds, k)
  }

  /** BFS distances from one seed — Catalyst-native level iteration with
    * an adaptive (count-gated) frontier broadcast. The default
    * `maxDepth` runs to the fix point: unbounded reachability, terminated
    * by the empty-frontier early exit after diameter+1 levels. (The
    * GraphX/Pregel twin lives in test scope, `GraphXOracles.bfsDepths`.)
    */
  def bfs(seed: Long, maxDepth: Int = Int.MaxValue): DataFrame =
    Graphs.bfsDepthsDF(spark, edges.select("src", "dst"), seed, maxDepth)

  /** Single-source weighted shortest distances (min-plus over a LONG
    * `weight` edge column, deterministic) — frontier-based Bellman-Ford;
    * the default `maxRounds` runs to the fix point.
    */
  def shortestPaths(seed: Long, maxRounds: Int = Int.MaxValue): DataFrame =
    Graphs.weightedDistancesDF(spark,
      edges.select("src", "dst", "weight"), seed, maxRounds)

  /** Connected components (label = min vertex id in component) —
    * alternating star contraction ([[Graphs.connectedComponentsDF]]).
    */
  def connectedComponents: DataFrame =
    Graphs.connectedComponentsDF(spark, edges.select("src", "dst"))

  /** Full coreness decomposition (shell index per vertex) by bounded
    * H-index iteration over the UNDIRECTED view of this graph's edges
    * ([[Graphs.corenessHIndex]] — G43).
    */
  def coreness(rounds: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = edges.select("src", "dst")
    val both = e.unionAll(e.select(col("dst").as("src"),
      col("src").as("dst")))
    Graphs.corenessHIndex(spark, both, rounds)
  }

  /** Louvain community detection to convergence over the UNDIRECTED
    * view (canonical x < y pairs derived from the edge list) —
    * [[Graphs.louvainMultiLevel]] (G40c).
    */
  def louvain(rounds: Int = 2, maxLevels: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.{col, least, greatest}
    val pairs = edges.select(least(col("src"), col("dst")).as("x"),
        greatest(col("src"), col("dst")).as("y"))
      .filter(col("x") =!= col("y")).distinct()
    Graphs.louvainMultiLevel(spark, pairs, rounds, maxLevels)
  }

  /** Static PageRank with a fixed iteration count — DataFrame power
    * iteration (the test-scope GraphX twin is the 1e-6 equivalence
    * oracle).
    */
  def pageRank(iters: Int): DataFrame =
    Graphs.pageRankDF(spark, edges.select("src", "dst"), iters)

  /** Synchronous label-propagation communities over the UNDIRECTED view
    * (deterministic tie-break: count desc, min label) —
    * [[Graphs.labelPropagationDF]] (G13).
    */
  def labelPropagation(rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.functions.col
    val e = edges.select("src", "dst")
    val both = e.unionAll(e.select(col("dst").as("src"),
      col("src").as("dst")))
    Graphs.labelPropagationDF(spark, both, rounds)
  }

  /** Strongly connected components by proven-convergence coloring
    * (throws rather than settle a split coloring) —
    * [[Graphs.stronglyConnectedComponents]] (G23).
    */
  def stronglyConnectedComponents(rounds: Int = 4,
      iters: Int = 8): DataFrame =
    Graphs.stronglyConnectedComponents(spark, edges.select("src", "dst"),
      rounds, iters)

  /** Personalized PageRank from `seed` (reset mass to the seed, ranks
    * L1-normalized) — DataFrame power iteration, gated against the
    * test-scope GraphX twin.
    */
  def personalizedPageRank(seed: Long, iters: Int): DataFrame =
    Graphs.personalizedPageRankDF(spark, edges.select("src", "dst"),
      seed, iters)

  /** General motif match (GraphFrames-style `find`, reimplemented as a
    * join planner — SURVEY G09): `pattern` is a semicolon-separated list
    * of directed edge atoms `(a)-[]->(b)`. Vertex names bind across
    * atoms (the same name means the same vertex); `()` is an anonymous
    * vertex that binds nothing. Returns one id column per NAMED vertex,
    * distinct rows.
    *
    * The plan is pure equi joins — one edge-list scan per atom, joined
    * on the shared vertex variables — so Catalyst orders/broadcasts them
    * like any other join tree.
    *
    * `bindings` (r20, guide §2.3 "shuffle fewer bytes" / §3.2 semi-join
    * reduction): an optional map from a vertex VARIABLE to a one-column
    * DataFrame (column named like the variable) of its allowed ids. Each
    * bound variable is LEFT-SEMI filtered into every atom that mentions
    * it BEFORE the motif joins. Joining filtered dims onto find's output
    * afterwards cannot do this pruning itself — find's trailing
    * `distinct()` blocks join pushdown, so the unbound form enumerates
    * the FULL motif first (measured on g09b at sf0.01: the supplier
    * middle vertices alone contribute in×out ≈ 600×600 two-paths each —
    * 25 s for an answer of 408 rows). Filtering before or after the
    * distinct selects the same rows, so the result is identical —
    * ApiSpec pins bound == unbound-then-joined.
    */
  def find(pattern: String,
      bindings: Map[String, DataFrame] = Map.empty): DataFrame = {
    val atom = """\(\s*(\w*)\s*\)\s*-\s*\[\s*\w*\s*\]\s*->\s*\(\s*(\w*)\s*\)""".r
    val atoms = pattern.split(";").map(_.trim).filter(_.nonEmpty).map {
      case atom(a, b) => (a, b)
      case bad => throw new IllegalArgumentException(
        s"unsupported motif atom '$bad' (expected '(a)-[]->(b)')")
    }
    require(atoms.nonEmpty, "empty motif pattern")
    var fresh = 0
    def name(v: String): String =
      if (v.nonEmpty) v
      else { fresh += 1; s"__anon$fresh" }
    val named = atoms.map { case (a, b) => (name(a), name(b)) }
    val acc = named
      .map { case (a, b) =>
        val base =
          if (a == b) // self-loop atom: one bound column
            edges.filter(col("src") === col("dst")).select(col("src").as(a))
          else edges.select(col("src").as(a), col("dst").as(b))
        Seq(a, b).distinct.filter(base.columns.contains).foldLeft(base) {
          (df, v) =>
            bindings.get(v).fold(df) { bound =>
              df.join(bound.select(col(bound.columns.head).as(v)),
                Seq(v), "left_semi")
            }
        }
      }
      .reduceLeft { (l, r) =>
        val shared = l.columns.intersect(r.columns).toSeq
        if (shared.nonEmpty) l.join(r, shared)
        else l.crossJoin(r) // disconnected pattern components
      }
    val keep = named.flatMap { case (a, b) => Seq(a, b) }
      .distinct.filterNot(_.startsWith("__anon"))
    require(keep.nonEmpty, "motif pattern binds no vertex names")
    acc.select(keep.map(col): _*).distinct()
  }

  /** Two-edge motif `(a)-[e1]->(b)-[e2]->(c)` with optional per-vertex
    * predicates applied BEFORE the joins (filter pushdown by hand).
    */
  def findPath2(
      aPred: Option[org.apache.spark.sql.Column] = None,
      bPred: Option[org.apache.spark.sql.Column] = None,
      cPred: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    def vs(p: Option[org.apache.spark.sql.Column], alias: String) =
      p.fold(vertices)(vertices.filter).select(col("id").as(alias))
    val e1 = edges.select(col("src").as("a"), col("dst").as("b"))
    val e2 = edges.select(col("src").as("b2"), col("dst").as("c"))
    vs(aPred, "va").join(e1, col("va") === col("a"))
      .join(vs(bPred, "vb"), col("b") === col("vb"))
      .join(e2, col("b") === col("b2"))
      .join(vs(cPred, "vc"), col("c") === col("vc"))
      .select(col("a"), col("b"), col("c")).distinct()
  }
}
