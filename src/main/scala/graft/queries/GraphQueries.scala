package graft.queries

import graft.Tables
import graft.ops.Graphs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph operators (SURVEY.md §2.2 G01–G10) over the canonical derived
  * graphs (FIXTURES.md). Iterative algorithms run as DataFrame frontier
  * iterations with bounded rounds (their GraphX twins live in test scope
  * as equivalence oracles); oracles are recursive CTEs with the same
  * bounds.
  */
object GraphQueries {

  /** Shared substrate for g34/g35: the part-flow graph restricted to
    * ≤2-lineitem orders. The FULL flow graph collapses into one giant
    * SCC (condensation and bow-tie both become vacuous one-class
    * answers); the sparse restriction has real macro-structure
    * (~1.7k components at sf0.01). Distinct directed edges, self-loops
    * dropped, checkpointed once for the iterative consumers.
    */
  private def restrictedFlowEdges(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(s, dir, "lineitem")
    val small = li.groupBy("l_orderkey").agg(count(lit(1)).as("nl"))
      .filter(col("nl") <= 2).select("l_orderkey")
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_linenumber").asc, col("l_partkey").asc)
    li.join(small, "l_orderkey")
      .withColumn("nxt", lead("l_partkey", 1).over(w))
      .filter(col("nxt").isNotNull && col("l_partkey") =!= col("nxt"))
      .select(col("l_partkey").cast("long").as("src"),
        col("nxt").cast("long").as("dst"))
      .distinct()
      .transform(graft.ops.Checkpoints.cut)
  }

  /** G45/G46 substrate: the T_copart temporal multigraph (FIXTURES.md) —
    * every ordered same-order part pair with a strictly later shipdate,
    * as (src, dst, dep_us, arr_us) in exact epoch micros, DISTINCT.
    */
  private def tcopartEdges(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(s, dir, "lineitem")
    val a = li.select(col("l_orderkey"), col("l_partkey").as("src"),
      graft.Det.epochUs(col("l_shipdate")).as("dep_us"))
    val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"),
      graft.Det.epochUs(col("l_shipdate")).as("arr_us"))
    a.join(b, "l_orderkey")
      .filter(col("src") =!= col("dst") && col("arr_us") > col("dep_us"))
      .select("src", "dst", "dep_us", "arr_us").distinct()
      .transform(graft.ops.Checkpoints.cut) // read by seeds + rounds
  }

  /** The declared G45/G46 entry labels: the 10 earliest edges by the
    * (dep, src, dst, arr) total order, entering as (dst, arr) — source
    * wait unconstrained, δ applies at every subsequent node.
    */
  private def tcopartSeeds(edges: DataFrame): DataFrame = edges
    .orderBy(col("dep_us"), col("src"), col("dst"), col("arr_us"))
    .limit(10)
    .select(col("dst").as("id"), col("arr_us"))

  private val RestlessDeltaUs = 30L * 86400L * 1000000L

  /** g48/g48b's wider layover window: at RestlessDeltaUs the sf0.1
    * shortest-foremost optima collapse to ≤ 2 hops (no interior — an
    * empty betweenness measure); 90 days keeps depth-3+ optima at both
    * scales (measured r16).
    */
  private val BetweennessDeltaUs = 90L * 86400L * 1000000L

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // G01 — graph construction: vertex/edge counts by kind.
    "g01_graph_build" -> ((s, dir) => {
      val v = Graphs.supplyVertices(s, dir).groupBy("vtype").count()
        .select(concat(lit("v_"), col("vtype")).as("kind"),
          col("count").as("n"))
      val e = Graphs.supplyEdges(s, dir).groupBy("etype").count()
        .select(concat(lit("e_"), col("etype")).as("kind"),
          col("count").as("n"))
      v.unionAll(e).orderBy("kind")
    }),

    // G02 — out-degree distribution of customers (zero-degree included).
    "g02_degree_dist" -> ((s, dir) => {
      val deg = Graphs.supplyEdges(s, dir)
        .filter(col("etype") === "cust_order")
        .groupBy("src").count()
      Graphs.supplyVertices(s, dir).filter(col("vtype") === "customer")
        .join(deg, col("id") === col("src"), "left_outer")
        .select(coalesce(col("count"), lit(0L)).as("deg"))
        .groupBy("deg").agg(count(lit(1)).as("n_customers"))
        .orderBy("deg")
    }),

    // G03 — 3-hop heterogeneous traversal: distinct parts within <= 3 hops
    // of customer 1 in G_supply, via the generic frontier expansion
    // (Graphs.kHopIds): hop 1 is a pushed-down seed filter, hops 2-3
    // broadcast the frontier; parallel edges are deduped ONCE at the end,
    // so the raw (distinct-free) edge list suffices. The edge union is a
    // persisted bucketed table (supplyEdgeTable — built once per session,
    // sorted on src so the seed filter prunes row groups); the unrolled
    // hop joins pipeline in a single action (ReuseExchange dedupes the
    // nested frontier broadcasts) with no per-hop materialization jobs.
    "g03_khop" -> ((s, dir) => {
      Graphs.kHopIds(Graphs.supplyEdgeTable(s, dir),
          col("src") === lit(Graphs.CUST + 1L), k = 3, materialize = false)
        .filter(col("id") >= Graphs.PART && col("id") < Graphs.PART + Graphs.TAG)
        .select((col("id") - Graphs.PART).as("p_partkey"))
        // kHopIds output is already distinct and id -> p_partkey is
        // injective. One-task sort instead of orderBy: a global sort's
        // range-sampling pass would execute the whole traversal twice
        // for a result that is only the ids within 3 hops. THRESHOLD
        // (VERDICT r10): this trade holds while the 3-hop id set fits
        // one task comfortably — roughly < 10M ids / a few hundred MB;
        // a supply-graph neighborhood approaching |parts| at 100×
        // should switch to Checkpoints.cut + orderBy (materialize
        // once, then the double-execution the sampling pass costs is
        // off the traversal, not on it).
        .repartition(1).sortWithinPartitions("p_partkey")
    }),

    // G04 — bounded reachability (<= 3 hops) from the smallest part in the
    // restricted co-part graph, via the Catalyst-native level-synchronous
    // BFS (bfsDepthsDF; DataFrame frontier, asserted equal in GraphOpsSpec
    // to the test-scope GraphX twin GraphXOracles.bfsDepths).
    "g04_reachability" -> ((s, dir) => {
      // localCheckpoint, not cache: materialized once (seed scan + BFS
      // levels all read the blocks), freed by the ContextCleaner.
      val edges = Graphs.copartEdges(s, dir).transform(graft.ops.Checkpoints.cut)
      val seed = edges.agg(min(col("src"))).head().getLong(0)
      Graphs.bfsDepthsDF(s, edges, seed, maxDepth = 3)
        .select(col("id").as("p_partkey"))
        .orderBy("p_partkey")
    }),

    // G05 — BFS shortest-path lengths (<= 4 hops) from the same seed.
    "g05_bfs_depth" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir).transform(graft.ops.Checkpoints.cut)
      val seed = edges.agg(min(col("src"))).head().getLong(0)
      Graphs.bfsDepthsDF(s, edges, seed, maxDepth = 4)
        .select(col("id").as("p_partkey"), col("dist"))
        .orderBy("p_partkey")
    }),

    // G05b — single-source WEIGHTED shortest distances (<= 4 relaxation
    // rounds) on the co-part graph, deterministic integer weights
    // w = (src*31 + dst) % 97 + 1, via the frontier-based Bellman-Ford
    // (Graphs.weightedDistancesDF — long min-plus, hash-exact; the
    // unbounded fix-point form is gated against a local Dijkstra oracle
    // in RandomizedSpec).
    "g05b_weighted_dist" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir)
        .withColumn("weight", (col("src") * 31 + col("dst")) % 97 + 1)
        .transform(graft.ops.Checkpoints.cut)
      val seed = edges.agg(min(col("src"))).head().getLong(0)
      Graphs.weightedDistancesDF(s, edges, seed, maxRounds = 4)
        .select(col("id").as("p_partkey"), col("dist"))
        .orderBy("p_partkey")
    }),

    // G06 — connected components of the restricted co-part graph (label =
    // min vertex id in component), via the Catalyst-native alternating
    // large-star/small-star rounds (O(log n) rounds, window-min shuffles;
    // the test-scope GraphX twin is asserted equal in GraphOpsSpec).
    "g06_connected_components" -> ((s, dir) => {
      Graphs.connectedComponentsDF(s, Graphs.copartEdges(s, dir))
        .select(col("id").as("p_partkey"), col("component"))
        .orderBy("p_partkey")
    }),

    // ---- SQL door for the graph surface (r15): the same operators
    // reached through the graph TVFs (TableFunctions) from a pure-SQL
    // session, held to their Scala siblings' DuckDB oracles VERBATIM —
    // the t01b/q10e discipline. Each registers the edge list as a temp
    // view (what a SQL user would have as a table) and runs one SQL
    // statement; the TVF builder splices the identical converged plan
    // the Scala API returns.

    // G06b — connected components via `connected_components(...)`.
    "g06b_cc_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir)
        .createOrReplaceTempView("graft_g06b_edges")
      s.sql("""SELECT id AS p_partkey, component
        |FROM connected_components('graft_g06b_edges', 'src', 'dst')
        |ORDER BY p_partkey""".stripMargin)
    }),

    // G05c — bounded BFS via `bfs_depths(...)`. The seed is the min
    // vertex id — computed here exactly as the Scala sibling does, then
    // passed as the TVF's integer-literal seed argument.
    "g05c_bfs_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val edges = Graphs.copartEdges(s, dir)
      edges.createOrReplaceTempView("graft_g05c_edges")
      val seed = edges.agg(min(col("src"))).head().getLong(0)
      s.sql(s"""SELECT id AS p_partkey, dist
        |FROM bfs_depths('graft_g05c_edges', 'src', 'dst', $seed, 4)
        |ORDER BY p_partkey""".stripMargin)
    }),

    // G43b — coreness decomposition via `coreness(...)`, 8 H-index
    // rounds like the Scala sibling.
    "g43b_coreness_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir)
        .createOrReplaceTempView("graft_g43b_edges")
      s.sql("""SELECT id, coreness
        |FROM coreness('graft_g43b_edges', 'src', 'dst', 8)
        |ORDER BY id""".stripMargin)
    }),

    // G40f — multi-level Louvain via `louvain(...)` over the canonical
    // undirected pairs, same (rounds=2, maxLevels=3) as g40c.
    "g40f_louvain_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartPairs(s, dir)
        .createOrReplaceTempView("graft_g40f_pairs")
      s.sql("""SELECT id, community
        |FROM louvain('graft_g40f_pairs', 'x', 'y', 2, 3)
        |ORDER BY id""".stripMargin)
    }),

    // G13b — label propagation via `label_propagation(...)`, 3 rounds
    // like the Scala sibling.
    "g13b_lpa_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir)
        .createOrReplaceTempView("graft_g13b_edges")
      s.sql("""SELECT id, label
        |FROM label_propagation('graft_g13b_edges', 'src', 'dst', 3)
        |ORDER BY id""".stripMargin)
    }),

    // G23b — strongly connected components via `scc(...)`, the same
    // (rounds=4, iters=8) proven-convergence coloring as g23.
    "g23b_scc_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.partFlowEdges(s, dir)
        .createOrReplaceTempView("graft_g23b_edges")
      s.sql("""SELECT id, scc_id
        |FROM scc('graft_g23b_edges', 'src', 'dst', 4, 8)
        |ORDER BY id""".stripMargin)
    }),

    // G08c — PageRank via `pagerank(...)`: g08's exact projection on
    // top of the TVF. Tolerance-family like g08 (float iteration
    // order): no DuckDB oracle; GraphOpsSpec gates the TVF output
    // row-for-row equal to the Scala sibling (identical plan, so the
    // floats are bit-identical, not merely close).
    "g08c_pagerank_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.supplyEdges(s, dir).select("src", "dst")
        .createOrReplaceTempView("graft_g08c_edges")
      s.sql("""SELECT id, round(rank, 4) AS rank4
        |FROM pagerank('graft_g08c_edges', 'src', 'dst', 10)
        |ORDER BY rank4 DESC, id LIMIT 100""".stripMargin)
    }),

    // G13 — label-propagation communities on the restricted co-part
    // graph, 3 synchronous rounds. Deterministic tie-break (count desc,
    // min label) makes the rounds SQL-expressible: hash-checked against
    // a 3-round unrolled DuckDB replay.
    "g13_label_propagation" -> ((s, dir) => {
      Graphs.labelPropagationDF(s, Graphs.copartEdges(s, dir), rounds = 3)
        .orderBy("id")
    }),

    // G14 — bounded k-core: 3 peeling rounds at k=2 on the restricted
    // co-part graph; survivors with their residual degree. Hash-checked
    // against a 3-round unrolled DuckDB replay.
    "g14_kcore" -> ((s, dir) => {
      Graphs.kCorePeelDF(s, Graphs.copartEdges(s, dir), k = 2, rounds = 3)
        .orderBy("id")
    }),

    // G20 — shortest-path counting (the Brandes betweenness building
    // block): from the canonical seed, the σ-contribution through every
    // interior vertex for the 3 smallest vertices at exactly distance 3
    // — sigma = paths_s(v) × paths_t(v) wherever d_s(v) + d_t(v) = 3.
    // Counts are exact integers, so the query hash-matches a DuckDB
    // walk-enumeration replay (a walk whose length equals its
    // endpoint's min distance IS a simple shortest path).
    "g20_path_counts" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      val seed = edges.agg(min(col("src"))).head().getLong(0)
      val fwd = Graphs.pathCountBfs(s, edges,
        s.createDataFrame(Seq(Tuple1(seed))).toDF("id"), maxDepth = 3)
      val targets = fwd.filter(col("dist") === 3)
        .select(col("id")).orderBy("id").limit(3)
      val bwd = Graphs.pathCountBfs(s, edges, targets, maxDepth = 3)
      fwd.select(col("id"), col("dist").as("d_s"), col("paths").as("p_s"))
        .join(bwd.select(col("seed").as("t_id"), col("id"),
          col("dist").as("d_t"), col("paths").as("p_t")), "id")
        .filter(col("d_s") + col("d_t") === 3 &&
          col("id") =!= seed && col("id") =!= col("t_id"))
        .select(col("t_id"), col("id").as("v_id"),
          (col("p_s") * col("p_t")).as("sigma"))
        .orderBy("t_id", "v_id")
    }),

    // G21 — Brandes betweenness via the full dependency back-propagation
    // sweep (Graphs.brandesDependencies): aggregated δ over ALL targets
    // reachable within 3 levels from the 3 canonical seeds, one reverse
    // level-synchronous join+agg per level. δ is a sum of σ ratios —
    // float — so the registry entry is rows-only; GraphOpsSpec gates the
    // operator against a local Brandes oracle on random digraphs, and
    // g21b is the exact-integer hash-matched restriction.
    "g21_betweenness" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      val seeds = edges.select(col("src").as("id")).distinct()
        .orderBy("id").limit(3)
      Graphs.brandesDependencies(s, edges, seeds, maxDepth = 3)
        .filter(col("id") =!= col("seed"))
        .groupBy("id").agg(round(sum("delta"), 6).as("betweenness"))
        .orderBy("id")
    }),

    // G21b — restricted betweenness, EXACT INTEGERS: the betweenness
    // numerators over the pair set {(s, t1..t3)} (the g20 targets),
    // scaled by the common σ product — b̂(v) = Σ_t σ_st(v)·Π_{j≠t}σ_stj
    // = (Πσ)·Σ_t σ_st(v)/σ_st, i.e. Brandes' pair-dependency sum times
    // an integer constant. Every factor is an exact path count, so the
    // query hash-matches the DuckDB walk-enumeration replay. The 3-row
    // σ table is a constant-size driver fetch (like codebook collects).
    "g21b_restricted_betweenness" -> ((s, dir) =>
      Graphs.restrictedBetweenness(s, Graphs.copartEdges(s, dir)
        .transform(graft.ops.Checkpoints.cut))),

    // G38 — edge betweenness (Girvan–Newman's removal score) on the
    // same restricted pair set as g21b, exact-integer per directed arc;
    // hash-matched against the path-EDGE enumeration replay.
    "g38_edge_betweenness" -> ((s, dir) =>
      Graphs.restrictedEdgeBetweenness(s, Graphs.copartEdges(s, dir)
        .transform(graft.ops.Checkpoints.cut))),

    // G07 — global triangle count of the restricted co-part graph.
    "g07_triangles" -> ((s, dir) => {
      val n = Graphs.triangleCount(s, Graphs.copartPairs(s, dir))
      s.createDataFrame(Seq(Tuple1(n))).toDF("n_triangles")
    }),

    // G22 — bounded 3-truss peeling on the co-part graph (2 rounds):
    // the surviving edges are those still embedded in a triangle after
    // the first purge removed triangle-free edges (removals can break
    // other edges' triangles — hence rounds). Exact set semantics +
    // integer supports → hash-matched against a 2-round unrolled DuckDB
    // replay, like g13/g14's bounded peels. GraphOpsSpec additionally
    // gates the operator against a local peeling oracle on random
    // graphs.
    "g22_ktruss" -> ((s, dir) => {
      Graphs.kTrussPeel(s, Graphs.copartPairs(s, dir), k = 3, rounds = 2)
        .orderBy("x", "y")
    }),

    // G23 — strongly connected components on the directed part-flow
    // graph (within each order, line i's part points at line i+1's;
    // opposing precedence across orders makes real cycles). Distributed
    // coloring algorithm engine-side (forward min-ancestor fixpoint +
    // color-restricted backward sweep, settle, repeat — throws rather
    // than return a partial partition); the oracle recomputes SCC from
    // first principles as recursive-closure mutual reachability. Exact
    // integer ids -> hash-matched; GraphOpsSpec gates the operator
    // against a Floyd-Warshall oracle on random digraphs.
    "g23_scc" -> ((s, dir) => {
      Graphs.stronglyConnectedComponents(s, Graphs.partFlowEdges(s, dir),
          rounds = 4, iters = 8)
        .orderBy("id")
    }),

    // G34 — CONDENSATION DAG: the part-flow graph quotiented by its
    // g23 SCC labels — every cross-component edge rewritten to
    // (src_scc, dst_scc) with multiplicity, intra-component edges
    // dropped. The acyclic "what feeds what" view a cyclic flow graph
    // hides, and the standard second act of any SCC run (Tarjan's
    // condensation theorem: the result is always a DAG). The substrate
    // restricts to ≤2-lineitem orders: the FULL flow graph collapses
    // into one giant SCC (condensation = a single vertex, zero edges —
    // true but vacuous); the sparse restriction has real structure
    // (~1.7k components, ~2k condensation edges at sf0.01). Scale
    // shape: the label table joins the edge list twice on vertex id
    // (the same shuffles SCC itself already paid), and the groupBy
    // output is bounded by the condensation's edge count, never the
    // graph's.
    // the sparse restriction is ~95% trimmable: TRIM peels the acyclic
    // bulk in cheap rounds, the proven-convergence coloring (which
    // still throws rather than settle early) runs only on the small
    // cyclic core (kernel shared with the `condensation` TVF)
    "g34_condensation" -> ((s, dir) =>
      Graphs.condensationEdges(s, restrictedFlowEdges(s, dir),
          trimRounds = 64, rounds = 8, iters = 64)
        .orderBy("src_scc", "dst_scc")),

    // G35 — BOW-TIE decomposition (Broder 2000): every vertex of the
    // restricted part-flow graph classified against the giant SCC —
    // core, in (reaches the core), out (reached from it), other
    // (tendrils/disconnected) — the macro-structure read that tells an
    // ingestion pipeline which slice of a dependency graph is
    // upstream, downstream, or isolated (91/264/267/1162 at sf0.01).
    // Reachability from a vertex SET is one virtual super-source (-1,
    // outside the id domain) wired to every core member, then the
    // adaptive-frontier BFS run to its FIX POINT on the forward and
    // reversed edge lists — two traversals total, no per-member BFS,
    // no transitive closure (the oracle pays the closure; the engine
    // never does). in ∩ out = core by SCC maximality, so the CASE
    // precedence is decorative, and the giant pick (max size, tie min
    // label) is a 1-row fetch off the label aggregate.
    "g35_bowtie" -> ((s, dir) =>
      Graphs.bowtieProfile(s, restrictedFlowEdges(s, dir),
          trimRounds = 64, rounds = 8, iters = 64)
        .orderBy("cls")),

    // G36 — hub-removal RESILIENCE curve: the co-part graph's giant
    // component re-measured after deleting its top-k degree hubs
    // (k = 0, 5, 20; hub pick deterministic by (degree desc, id)) —
    // the scale-free-fragility read behind "what breaks if the busiest
    // nodes go away" (Albert/Jeong/Barabási 2000). Per declaration the
    // measure covers the EDGE-BEARING survivors (a survivor whose
    // every neighbor was removed leaves the edge list and is not
    // counted — the isolated tail is not what resilience asks about).
    // Scale shape: the hub set is an orderBy(k).limit — a top-k, not
    // a global rank window — and each k re-runs the same
    // star-contraction CC on an anti-joined edge list; 3 bounded CC
    // runs, nothing quadratic.
    "g36_resilience" -> ((s, dir) =>
      Graphs.resilienceCurve(s, Graphs.copartEdges(s, dir),
          ks = Seq(0, 5, 20))
        .orderBy("k")),

    // G37 — bipartite projection + cluster structure: project the
    // order–part bipartite relation onto parts (co-purchase edges,
    // weight = #orders sharing the pair), threshold at weight ≥ 2 to
    // kill incidental co-occurrence, and report the connected-component
    // size profile of what remains — the product-affinity clusters
    // behind "bought together" features. Scale shape: pair expansion is
    // the bounded in-basket transform (q52's — baskets capped at 8
    // items, so fan-out is ≤ C(8,2) per order, never catalog-quadratic),
    // the pair count is one pair-keyed agg, and CC runs on the
    // THRESHOLDED projection, which is the small survivor set.
    // connectedComponentsDF symmetrizes internally, so the x<y pair
    // orientation is enough.
    "g37_copurchase" -> ((s, dir) => {
      val proj = Graphs.bipartiteProjection(
        Tables.load(s, dir, "lineitem")
          .select(col("l_orderkey").as("grp"), col("l_partkey").as("item")),
        minBasket = 2, maxBasket = 8, minWeight = 2)
      Graphs.connectedComponentsDF(s,
          proj.select(col("x").as("src"), col("y").as("dst")))
        .groupBy("component").agg(count(lit(1)).as("n_parts"))
        .orderBy(col("n_parts").desc, col("component").asc)
    }),

    // G34b/G35b/G36b/G37b (r18) — the structural-read door: the last
    // Scala-only graph reads get their TVFs (condensation / bowtie /
    // resilience / coproject), each twin feeding the same substrate
    // through a view and held to its sibling's oracle verbatim. g37b
    // COMPOSES coproject with the connected_components door in one
    // statement — the co-purchase-clusters read a SQL-only session
    // actually writes.
    "g34b_condensation_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      restrictedFlowEdges(s, dir)
        .createOrReplaceTempView("graft_g34b_edges")
      s.sql("""SELECT src_scc, dst_scc, n_edges
        |FROM condensation('graft_g34b_edges', 'src', 'dst', 64, 8, 64)
        |ORDER BY src_scc, dst_scc""".stripMargin)
    }),

    "g35b_bowtie_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      restrictedFlowEdges(s, dir)
        .createOrReplaceTempView("graft_g35b_edges")
      s.sql("""SELECT cls, n_vertices
        |FROM bowtie('graft_g35b_edges', 'src', 'dst', 64, 8, 64)
        |ORDER BY cls""".stripMargin)
    }),

    "g36b_resilience_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir)
        .createOrReplaceTempView("graft_g36b_edges")
      s.sql("""SELECT k, n_live, n_components, giant_size
        |FROM resilience('graft_g36b_edges', 'src', 'dst', '0,5,20')
        |ORDER BY k""".stripMargin)
    }),

    "g37b_copurchase_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Tables.load(s, dir, "lineitem")
        .createOrReplaceTempView("graft_g37b_li")
      s.sql("""SELECT component, count(*) AS n_parts
        |FROM connected_components(
        |  TABLE(SELECT x AS src, y AS dst
        |        FROM coproject('graft_g37b_li', 'l_orderkey',
        |                       'l_partkey', 2, 8, 2)),
        |  'src', 'dst')
        |GROUP BY component
        |ORDER BY n_parts DESC, component ASC""".stripMargin)
    }),

    // G27b/G28b (r19) — the LAST two graph reads without a SQL door.
    // Both derive the co-part pair substrate through the coproject TVF
    // (lineitem baskets 2..3, min_weight 1 == Graphs.copartPairs
    // exactly), so the whole statement is SQL end to end. g27b
    // composes triangles_per_vertex through a TABLE() argument with
    // the degree/wedge arithmetic inline; g28b is Newman's six exact
    // integer moments as one aggregate over the degree-joined arc
    // list. Held to g27/g28's oracles verbatim.
    //
    // The coproject kernel is SPELLED TWICE in g27b (the pairs CTE and
    // the TVF's TABLE() argument) because a TABLE(<subquery>) argument
    // is analyzed OUTSIDE the statement's WITH scope — `TABLE(SELECT x,
    // y FROM pairs)` fails resolution (verified r19). The cost is NOT
    // doubled at run time: the TVF builder memoizes per (function,
    // args, canonicalized input plan), and Catalyst's exchange/subplan
    // reuse dedups the scans that remain.
    "g27b_clustering_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Tables.load(s, dir, "lineitem")
        .createOrReplaceTempView("graft_g27b_li")
      s.sql("""WITH pairs AS (
        |  SELECT x, y FROM coproject('graft_g27b_li', 'l_orderkey',
        |                             'l_partkey', 2, 3, 1)),
        |deg AS (
        |  SELECT id, count(*) AS deg
        |  FROM (SELECT x AS id FROM pairs
        |        UNION ALL SELECT y AS id FROM pairs)
        |  GROUP BY id)
        |SELECT d.id,
        |       coalesce(t.n_triangles, 0L) AS n_triangles,
        |       d.deg * (d.deg - 1) div 2 AS n_wedges,
        |       1000000 * coalesce(t.n_triangles, 0L)
        |         div (d.deg * (d.deg - 1) div 2) AS coeff_e6
        |FROM deg d
        |LEFT JOIN triangles_per_vertex(
        |    TABLE(SELECT x, y FROM coproject('graft_g27b_li',
        |          'l_orderkey', 'l_partkey', 2, 3, 1)),
        |    'x', 'y') t
        |  ON d.id = t.id
        |WHERE d.deg >= 2
        |ORDER BY id""".stripMargin)
    }),

    "g28b_assortativity_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Tables.load(s, dir, "lineitem")
        .createOrReplaceTempView("graft_g28b_li")
      s.sql("""WITH pairs AS (
        |  SELECT x, y FROM coproject('graft_g28b_li', 'l_orderkey',
        |                             'l_partkey', 2, 3, 1)),
        |ed AS (
        |  SELECT x AS src, y AS dst FROM pairs
        |  UNION ALL SELECT y AS src, x AS dst FROM pairs),
        |deg AS (SELECT src AS id, count(*) AS d FROM ed GROUP BY src)
        |SELECT count(*) AS m,
        |       sum(a.d * b.d) AS sum_xy,
        |       sum(a.d) AS sum_x, sum(b.d) AS sum_y,
        |       sum(a.d * a.d) AS sum_x2, sum(b.d * b.d) AS sum_y2
        |FROM ed JOIN deg a ON ed.src = a.id
        |        JOIN deg b ON ed.dst = b.id""".stripMargin)
    }),

    // G29b/G33b (r18) — the lazy aggregate doors (reciprocity /
    // rich_club), same discipline.
    "g29b_reciprocity_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.partFlowEdges(s, dir)
        .createOrReplaceTempView("graft_g29b_edges")
      s.sql("""SELECT n_edges, n_reciprocal
        |FROM reciprocity('graft_g29b_edges', 'src', 'dst')""".stripMargin)
    }),

    "g33b_rich_club_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir)
        .createOrReplaceTempView("graft_g33b_edges")
      s.sql("""SELECT k, n_k, e_k, phi_e6
        |FROM rich_club('graft_g33b_edges', 'src', 'dst')
        |ORDER BY k""".stripMargin)
    }),

    // G39 — BOM explosion (the classic bill-of-materials recursive
    // rollup, with MULTIPLICATIVE quantities — a different semiring
    // from every BFS/min/count traversal above): over the derived
    // binary part hierarchy (child c needs qty(c) = c%3+1 units per
    // unit of parent c div 2), each part's total descendant count and
    // total component units U(p) = Σ_c qty(c)·(1 + U(c)) — the number
    // procurement actually orders. The engine runs bottom-up LEVEL DP:
    // heap keys make every child exactly one level deeper
    // (level = len(bin(id))−1, exact integer — no float log2), so
    // ~log N rounds of (child→parent aggregate + left join) compute
    // every part in O(V) total work; the oracle pays full root×path
    // enumeration (Σ depths ≈ N·log N rows), the standard
    // engine-avoids/oracle-pays split. At 100 TB: per-round shuffle is
    // one level's parent-keyed aggregate; depth stays logarithmic in
    // the catalog.
    "g39_bom_explosion" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"))
        .withColumn("lvl", (length(bin(col("id"))) - 1).cast("int"))
        .transform(graft.ops.Checkpoints.cut)
      val maxL = p.agg(max("lvl")).head().getInt(0)
      var computed = p.filter(col("lvl") === maxL)
        .select(col("id"), lit(0L).as("n_desc"), lit(0L).as("units"))
      var acc = computed
      for (d <- maxL - 1 to 0 by -1) {
        val agg = computed
          .filter(col("id") >= 2)
          .select(expr("id div 2").as("pid"),
            (col("id") % 3 + 1).as("qty"), col("n_desc"), col("units"))
          .groupBy("pid")
          .agg(sum(lit(1L) + col("n_desc")).as("kn"),
            sum(col("qty") * (lit(1L) + col("units"))).as("ku"))
        computed = p.filter(col("lvl") === d).select("id")
          .join(agg, col("id") === col("pid"), "left")
          .select(col("id"), coalesce(col("kn"), lit(0L)).as("n_desc"),
            coalesce(col("ku"), lit(0L)).as("units"))
          .transform(graft.ops.Checkpoints.cut)
        acc = acc.unionAll(computed)
      }
      acc.orderBy("id")
    }),

    // G39b — the BOM rollup from pure SQL (r17 graph-door tail) over
    // the GENERIC (id, parent, qty) hierarchy surface: the heap-derived
    // tree arrives as a TABLE() subquery, the bom_rollup TVF assigns
    // levels by the top-down forest walk (no heap-id trick available to
    // a generic hierarchy) and runs the same bottom-up level DP; held
    // to g39's oracle verbatim.
    "g39b_bom_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Tables.load(s, dir, "part").createOrReplaceTempView("graft_g39b_part")
      s.sql("""SELECT id, n_desc, units
        |FROM bom_rollup(TABLE(SELECT CAST(p_partkey AS BIGINT) AS id,
        |       CASE WHEN p_partkey >= 2
        |            THEN CAST(p_partkey AS BIGINT) div 2 ELSE -1 END
        |         AS parent,
        |       p_partkey % 3 + 1 AS qty FROM graft_g39b_part), 64)
        |ORDER BY id""".stripMargin)
    }),

    // G41 — DAG CRITICAL PATH (assembly makespan): over g39's implicit
    // BOM tree (children of id = {2id, 2id+1} within the part set),
    // each part's critical path = its own build cost (id%7+1) plus the
    // MAX over children's critical paths — the longest-cost chain a
    // scheduler cannot compress. Same bounded level-DP loop as g39
    // (depth = log2 |parts| rounds, each one groupBy + one join on the
    // level slice, checkpoint-cut lineage) with max in place of sum —
    // the scheduling dual of the BOM rollup. Oracle = a DuckDB
    // recursive descendant walk taking max path cost per start.
    "g41_critical_path" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"))
        .withColumn("lvl", (length(bin(col("id"))) - 1).cast("int"))
        .withColumn("cost", (col("id") % 7 + 1).cast("long"))
        .transform(graft.ops.Checkpoints.cut)
      val maxL = p.agg(max("lvl")).head().getInt(0)
      var computed = p.filter(col("lvl") === maxL)
        .select(col("id"), col("cost").as("crit"))
      var acc = computed
      for (d <- maxL - 1 to 0 by -1) {
        val best = computed.filter(col("id") >= 2)
          .select(expr("id div 2").as("pid"), col("crit"))
          .groupBy("pid").agg(max("crit").as("mc"))
        computed = p.filter(col("lvl") === d)
          .join(best, col("id") === col("pid"), "left")
          .select(col("id"),
            (col("cost") + coalesce(col("mc"), lit(0L))).as("crit"))
          .transform(graft.ops.Checkpoints.cut)
        acc = acc.unionAll(computed)
      }
      acc.orderBy("id")
    }),

    // G41b — the critical path from pure SQL (r17 graph-door tail),
    // the generic (id, parent, cost) surface; held to g41's oracle.
    "g41b_critical_path_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Tables.load(s, dir, "part").createOrReplaceTempView("graft_g41b_part")
      s.sql("""SELECT id, crit
        |FROM critical_path(TABLE(SELECT CAST(p_partkey AS BIGINT) AS id,
        |       CASE WHEN p_partkey >= 2
        |            THEN CAST(p_partkey AS BIGINT) div 2 ELSE -1 END
        |         AS parent,
        |       p_partkey % 7 + 1 AS cost FROM graft_g41b_part), 64)
        |ORDER BY id""".stripMargin)
    }),

    // G08 — PageRank on G_supply, 10 fixed iterations, via the
    // Catalyst-native power iteration (pageRankDF; the test-scope GraphX
    // twin is asserted within 1e-6 with identical top-20 order in ToleranceSpec).
    // Tolerance-gated (float iteration order), no hash oracle; ScalaTest
    // also asserts rank-sum ≈ vertex count and top ranks stability.
    "g08_pagerank" -> ((s, dir) => {
      Graphs.pageRankDF(s, Graphs.supplyEdges(s, dir).select("src", "dst"), 10)
        .select(col("id"), round(col("rank"), 4).as("rank4"))
        .orderBy(desc("rank4"), col("id")).limit(100)
    }),

    // G08b — personalized PageRank from customer 1 on the supply graph:
    // "which parts of the graph matter to THIS entity". Ranks sum to 1,
    // reported in parts-per-million. Tolerance-gated vs the test-scope
    // GraphX staticPersonalizedPageRank twin (ToleranceSpec); rows-only
    // here.
    "g08b_ppr" -> ((s, dir) => {
      Graphs.personalizedPageRankDF(s,
          Graphs.supplyEdges(s, dir).select("src", "dst"),
          seed = Graphs.CUST + 1L, iters = 10)
        .select(col("id"), round(col("rank") * lit(1e6), 4).as("rank_ppm"))
        .orderBy(desc("rank_ppm"), col("id")).limit(100)
    }),

    // G18 — HITS hubs/authorities on the supply graph (10 L2-normalized
    // iterations): top-20 authorities — "which parts/suppliers do the
    // strongest purchasing chains point at". Engine-only (float fixed
    // point); GraphOpsSpec gates vs a dense local power iteration.
    "g18_hits" -> ((s, dir) => {
      Graphs.hitsDF(s, Graphs.supplyEdges(s, dir).select("src", "dst"), 10)
        .select(col("id"), round(col("auth") * 1000, 4).as("auth_k"),
          round(col("hub") * 1000, 4).as("hub_k"))
        .orderBy(desc("auth_k"), col("id")).limit(20)
    }),

    // G17 — multi-source BFS depth profile: exact min-depth counts from
    // the 3 smallest co-part vertices SIMULTANEOUSLY (one traversal, not
    // 3) — the closeness/harmonic-centrality sampling primitive. Output
    // (seed, dist, n) hash-matched against a per-seed recursive CTE.
    "g17_bfs_profile" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir).transform(graft.ops.Checkpoints.cut)
      val seeds = edges.select(col("src").as("id")).distinct()
        .orderBy("id").limit(3)
      Graphs.multiSourceBfs(s, edges, seeds, maxDepth = 3)
        .groupBy("seed", "dist").agg(count(lit(1)).as("n"))
        .orderBy("seed", "dist")
    }),

    // G19 — sampled closeness centrality: exact min-depth sums from the
    // 3 smallest co-part vertices via ONE multi-source traversal.
    // Output stays integral ((n_reached, total_dist) per seed; closeness
    // = n_reached/total_dist is one client-side division) so the
    // contract is hash-matched against the seeded recursive-CTE replay.
    "g19_closeness" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir).transform(graft.ops.Checkpoints.cut)
      val seeds = edges.select(col("src").as("id")).distinct()
        .orderBy("id").limit(3)
      Graphs.multiSourceBfs(s, edges, seeds, maxDepth = 6)
        .groupBy("seed")
        .agg((count(lit(1)) - 1).as("n_reached"),
          sum("dist").as("total_dist"))
        .orderBy("seed")
    }),

    // G31 — harmonic centrality from the same 3 seeds, EXACT integers:
    // Σ 1/d over reached vertices scaled by lcm(1..6)=60 (depth is
    // bounded at 6, so 60 div d is exact for every reachable d) —
    // the centrality that, unlike closeness, stays well-defined on
    // disconnected graphs (unreachable vertices contribute 0 instead
    // of poisoning the sum). Same single multi-source traversal as
    // g17/g19; hash-matched against the seeded recursive-CTE replay.
    "g31_harmonic" -> ((s, dir) => {
      val edges = Graphs.copartEdges(s, dir).transform(graft.ops.Checkpoints.cut)
      val seeds = edges.select(col("src").as("id")).distinct()
        .orderBy("id").limit(3)
      Graphs.multiSourceBfs(s, edges, seeds, maxDepth = 6)
        .filter(col("dist") > 0)
        .groupBy("seed")
        .agg(count(lit(1)).as("n_reached"),
          sum(expr("60 div dist")).as("harmonic_x60"))
        .orderBy("seed")
    }),

    // G32 — Katz centrality, EXACT: walk counts of length 1..3 ending
    // at each vertex (c_{k+1} = A^T c_k — one edge join + vertex groupBy
    // per round, the sparse matvec shape that scales as rounds × one
    // shuffle), combined with attenuation β = 1/4 scaled by 4³:
    // katz_x64 = 16·c1 + 4·c2 + c3. Integer walk counts make the
    // truncated Katz sum hash-exact — no float power iteration — and
    // the top-100 cut is deterministic (score desc, id asc). The
    // attenuated-influence read PageRank's normalization hides: a
    // vertex's score counts its short walk catchment directly.
    "g32_katz" -> ((s, dir) => {
      Graphs.katzX64(Graphs.copartEdges(s, dir))
        .select(col("id").as("part_id"), col("w1"), col("w2"), col("w3"),
          col("katz_x64"))
        .orderBy(col("katz_x64").desc, col("part_id").asc)
        .limit(100)
    }),

    // G33 — rich-club coefficient, EXACT: for each degree threshold k,
    // φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k counts vertices of degree
    // > k and E_k the edges with BOTH endpoints past the threshold —
    // the "do the hubs talk to each other" curve (Colizza 2006)
    // assortativity's single moment (g28) cannot show. Scale shape:
    // both suffix counts come from DEGREE HISTOGRAMS (≤ maxdeg rows —
    // broadcast side of an explicitly-bounded theta join; the hint is
    // also the NestedLoopGuard opt-in), so after the one degree join
    // over edges nothing touches the graph again; E_k halves the
    // both-directions edge list exactly (each undirected edge counted
    // twice). φ as exact scaled integer, zero-division impossible
    // (n_k ≥ 2 filter).
    "g33_rich_club" -> ((s, dir) =>
      Graphs.richClub(
          Graphs.copartEdges(s, dir).transform(graft.ops.Checkpoints.cut))
        .orderBy("k")),

    // G16 — deterministic hash-walk sampling from customers 1..5 on the
    // supply graph (2 walks × ≤3 steps each): node2vec-style walk data
    // whose "randomness" is a seeded hash, so retries/reruns reproduce
    // the exact walks. Hash-matched since r7 (the pick hash is
    // Det.md5Long, which DuckDB replays — see the g16 oracle);
    // GraphOpsSpec still gates edge-validity, determinism, sink stops.
    "g16_hash_walks" -> ((s, dir) => {
      val seeds = s.range(1, 6).select((col("id") + Graphs.CUST).as("id"))
      Graphs.hashWalks(s, Graphs.supplyEdges(s, dir).select("src", "dst"),
          seeds, steps = 3, walksPerSeed = 2)
        .orderBy("walk_id", "step")
    }),

    // G16b (r18) — the same walks from pure SQL via the hash_walks TVF
    // (seeds as a TABLE() subquery), held to g16's oracle verbatim.
    "g16b_hash_walks_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.supplyEdges(s, dir).select("src", "dst")
        .createOrReplaceTempView("graft_g16b_edges")
      s.sql(s"""SELECT walk_id, seed, step, vertex
        |FROM hash_walks('graft_g16b_edges', 'src', 'dst',
        |  TABLE(SELECT id + ${Graphs.CUST} AS id FROM range(1, 6)),
        |  3, 2)
        |ORDER BY walk_id, step""".stripMargin)
    }),

    // G09 — motif match customer->order->part with per-vertex predicates,
    // as a 2-edge join plan over the edge lists.
    "g09_motif" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_custkey")
      val p = Tables.load(s, dir, "part")
        .filter(col("p_size") > 40).select("p_partkey")
      val li = Tables.load(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey").distinct()
      c.join(o, col("c_custkey") === col("o_custkey"))
        .join(li, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select("c_custkey", "o_orderkey", "p_partkey").distinct()
        .orderBy("c_custkey", "o_orderkey", "p_partkey")
    }),

    // G09b — the same motif through the GENERAL pattern planner
    // (PropertyGraph.find "(c)-[]->(o); (o)-[]->(p)"): the pattern
    // compiles to the same equi-join tree as the hand-written G09 plan,
    // predicates applied by joining the bound columns against filtered
    // dims (pushdown prunes before the motif joins). Same oracle as G09.
    "g09b_motif_find" -> ((s, dir) => {
      val g = graft.api.PropertyGraph(Graphs.supplyVertices(s, dir),
        Graphs.supplyEdges(s, dir))
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select((col("c_custkey") + Graphs.CUST).as("c"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select((col("o_orderkey") + Graphs.ORD).as("o"))
      val p = Tables.load(s, dir, "part")
        .filter(col("p_size") > 40)
        .select((col("p_partkey") + Graphs.PART).as("p"))
      // r20: bind the filtered dims INTO the motif atoms (semi joins
      // before the pattern joins) — find's trailing distinct blocked
      // join pushdown, so the unbound form enumerated every 2-path of
      // the supply graph (the supplier middle vertices alone are
      // in×out ≈ 600² each at sf0.01; 25 s for 408 rows) before the
      // dims could prune. Same rows: the trailing dim joins are now
      // no-op filters over an already-bound motif. sf0.01 Verify:
      // 25 s → sub-second; oracle hash unchanged.
      g.find("(c)-[]->(o); (o)-[]->(p)",
          bindings = Map("c" -> c, "o" -> o, "p" -> p))
        .join(c, "c").join(o, "o").join(broadcast(p), "p")
        .select((col("c") - Graphs.CUST).as("c_custkey"),
          (col("o") - Graphs.ORD).as("o_orderkey"),
          (col("p") - Graphs.PART).as("p_partkey"))
        .distinct()
        .orderBy("c_custkey", "o_orderkey", "p_partkey")
    }),

    // G11 — temporal graph SNAPSHOT traversal: the supply graph as it
    // existed at 1997-07-01 (an edge exists only once its realizing
    // order/shipment happened), then the same 3-hop part expansion as
    // G03 on that snapshot. The snapshot is a pushed-down validity
    // filter on the edge scan (api.TemporalPropertyGraph.at), so the
    // traversal plan is identical to G03's — temporality costs a
    // predicate, not an execution path.
    "g11_snapshot_khop" -> ((s, dir) => {
      val t = to_timestamp(lit("1997-07-01 00:00:00"))
      val snap = graft.api.TemporalPropertyGraph(
          Graphs.supplyVertices(s, dir),
          Graphs.temporalSupplyEdges(s, dir))
        .at(t)
      Graphs.kHopIds(snap.edges, col("src") === lit(Graphs.CUST + 1L), k = 3)
        .filter(col("id") >= Graphs.PART && col("id") < Graphs.PART + Graphs.TAG)
        .select((col("id") - Graphs.PART).as("p_partkey"))
        // same one-task-sort trade and < ~10M-id threshold as g03
        .repartition(1).sortWithinPartitions("p_partkey")
    }),

    // G12 — graph EVOLUTION: edge counts per type at four year-start
    // snapshots. One edge-list scan fanned out to the points (generator,
    // no self-join) + one aggregation.
    "g12_graph_evolution" -> ((s, dir) => {
      graft.api.TemporalPropertyGraph(
          Graphs.supplyVertices(s, dir),
          Graphs.temporalSupplyEdges(s, dir))
        .evolution(Seq("1996-01-01 00:00:00", "1997-01-01 00:00:00",
          "1998-01-01 00:00:00", "1999-01-01 00:00:00"))
        .orderBy("t", "etype")
    }),

    // G10 — temporal earliest-arrival path (the reference's signature
    // traversal) from the globally-first event, bounded to 8 hops.
    "g10_temporal_path" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val seedRow = ev.orderBy("event_id")
        .select(col("event_id"), graft.Det.epochUs(col("ts"))).head()
      val seedId = seedRow.getLong(0)
      val seedUs = seedRow.getLong(1)
      Graphs.earliestArrival(s, Graphs.sessionEdges(s, dir),
          seedId, seedUs, maxHops = 8)
        .select(col("id").as("event_id"),
          timestamp_micros(col("arrival_us")).as("arrival_ts"))
        .orderBy("event_id")
    }),

    // G24 — double-sweep diameter lower bound on the co-part graph:
    // BFS from the min vertex, hop to the farthest (tie → min id), BFS
    // again; the second eccentricity bounds the diameter from below at
    // the cost of two traversals. Exact integers, hash-matched against
    // a two-stage recursive-CTE replay.
    "g24_diameter_lb" -> ((s, dir) =>
      Graphs.doubleSweepEcc(s, Graphs.copartEdges(s, dir)
        .transform(graft.ops.Checkpoints.cut), maxDepth = 12)),

    // G24b — the double sweep from pure SQL (r17 graph-door tail):
    // same traversals, held to g24's oracle verbatim.
    "g24b_ecc_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir).createOrReplaceTempView("graft_g24b_edges")
      s.sql("""SELECT seed, peak, ecc_lb
        |FROM double_sweep_ecc('graft_g24b_edges', 'src', 'dst', 12)"""
        .stripMargin)
    }),

    // G26 — modularity of the g13 label-propagation partition on the
    // co-part graph: per community (n_vertices, e_in, deg_sum) plus the
    // exact integer numerator q_num = 4·m·e_in − deg_sum² (Newman's Q =
    // Σ q_num / 4m²) — the partition-quality read a community detection
    // pass is judged by, with no float anywhere.
    "g26_modularity" -> ((s, dir) => {
      val pairs = Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
      Graphs.modularity(pairs, Graphs.labelPropagationDF(s, edges, rounds = 3))
        .orderBy("community")
    }),

    // G26b (r18) — the same partition-quality read from pure SQL: the
    // modularity TVF COMPOSED with the label_propagation TVF (labels
    // arrive as a TABLE(SELECT ...) over the LPA door — the two-door
    // composition a SQL-only community-detection session actually
    // writes). Held to g26's oracle verbatim.
    "g26b_modularity_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val pairs = Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      pairs.createOrReplaceTempView("graft_g26b_pairs")
      s.sql("""SELECT community, n_vertices, e_in, deg_sum, q_num
        |FROM modularity('graft_g26b_pairs', 'x', 'y',
        |  TABLE(SELECT id, label FROM label_propagation(
        |    TABLE(SELECT x AS src, y AS dst FROM graft_g26b_pairs
        |          UNION ALL
        |          SELECT y AS src, x AS dst FROM graft_g26b_pairs),
        |    'src', 'dst', 3)))
        |ORDER BY community""".stripMargin)
    }),

    // G40 — one Louvain level on the co-part graph: 2 synchronous rounds
    // of deterministic greedy modularity moves (gain in exact integers —
    // g26's q_num algebra; tie-break gain desc, community asc). The
    // canonical "what a graph user asks for after LPA" operator; the
    // determinism makes it hash-checked against a 2-round unrolled
    // DuckDB move replay. Q-monotonicity and planted-partition recovery
    // are pinned in GraphOpsSpec.
    "g40_louvain" -> ((s, dir) => {
      Graphs.louvainOneLevel(s, Graphs.copartPairs(s, dir), rounds = 2)
        .orderBy("id")
    }),

    // G40b — MULTI-LEVEL Louvain (NEW r13): g40's level-1 communities
    // are contracted into a weighted quotient graph (inter-community
    // multiplicities = edge weights, intra-community edges = self-loops
    // carrying 2× into quotient degrees) and a second weighted level
    // runs on it; original vertices are relabeled through the composed
    // map. Deterministic end to end, so the two-level composite is
    // hash-checked against a fully unrolled DuckDB replay (level-1
    // rounds + contraction + weighted rounds). The whole-community
    // merge that level 2 alone can perform is pinned in GraphOpsSpec.
    "g40b_louvain_multilevel" -> ((s, dir) => {
      Graphs.louvainTwoLevel(s, Graphs.copartPairs(s, dir), rounds = 2)
        .orderBy("id")
    }),

    // G40c — Louvain TO CONVERGENCE (NEW r14): the full
    // contract-and-repeat loop — levels run while they still move
    // anything (zero applied moves = the fixed point; every later level
    // would replay identically), bounded by maxLevels = 3 here; round
    // loops inside each level gained the same gain-adaptive early exit.
    // Deterministic end to end (tie-breaks + swap suppression carried
    // level over level), so it hash-checks against a fully unrolled
    // 3-level DuckDB replay in which the engine's skipped levels/rounds
    // are provably no-op replays. GraphOpsSpec pins a hierarchical
    // fixture where level 3 merges what level 2 left (Q strictly
    // rising) and a 4th level applies zero moves.
    "g40c_louvain_converged" -> ((s, dir) => {
      Graphs.louvainMultiLevel(s, Graphs.copartPairs(s, dir), rounds = 2,
          maxLevels = 3)
        .orderBy("id")
    }),

    // G44 — WEIGHTED label propagation (NEW r14): g13's community
    // rounds with votes weighted by co-occurrence multiplicity (the
    // g40d weighted co-part graph) — 3 deterministic rounds, weight
    // sums in exact integers; hash-checked against the unrolled
    // weighted-vote replay.
    "g44_weighted_lpa" -> ((s, dir) => {
      val wp = Graphs.copartWeightedPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      val we = wp.select(col("x").as("src"), col("y").as("dst"), col("w"))
        .unionAll(wp.select(col("y").as("src"), col("x").as("dst"),
          col("w")))
      Graphs.labelPropagationWeightedDF(s, we, rounds = 3)
        .orderBy("id")
    }),

    // G43 — full coreness decomposition (NEW r14): every co-part
    // vertex's shell index by H-index iteration from degree (8 rounds,
    // mirrored exactly by the unrolled oracle — values only decrease,
    // and GraphOpsSpec pins true coreness on hand fixtures + an
    // extra-round fixpoint). The per-vertex answer g14's single-k peel
    // cannot give without re-running per k.
    "g43_coreness" -> ((s, dir) => {
      Graphs.corenessHIndex(s, Graphs.copartEdges(s, dir), rounds = 8)
        .orderBy("id")
    }),

    // G40e — WEIGHTED Louvain to convergence (NEW r14): g40d's
    // weighted kernel through g40c's contract-and-refine loop on the
    // multiplicity-weighted co-part graph; hash-checked against the
    // fully unrolled weighted 3-level replay.
    "g40e_louvain_weighted_converged" -> ((s, dir) => {
      Graphs.louvainMultiLevelWeighted(s,
          Graphs.copartWeightedPairs(s, dir), rounds = 2, maxLevels = 3)
        .orderBy("id")
    }),

    // G45 — δ-RESTLESS earliest arrival (r15): the fourth member of the
    // temporal-path family (G10/g10b/g10c cover earliest/latest/fastest
    // on the session-chain graph; this one runs on the T_copart
    // MULTIGRAPH — FIXTURES.md — where a node holds many arrival events
    // and restlessness genuinely binds: reach is 13/18/24 nodes at
    // δ = 7/14/30 days on the sf0.01 fixture). Entry = the 10 earliest
    // edges by the (dep, src, dst, arr) total order, unconstrained
    // source wait; δ = 30 days, walks ≤ 4 edges. Output: each reached
    // part's earliest restless arrival, exact integer micros —
    // hash-matched against the depth-bounded recursive-CTE walk replay.
    "g45_restless_arrival" -> ((s, dir) => {
      val edges = tcopartEdges(s, dir)
      Graphs.restlessEarliestArrival(s, edges, tcopartSeeds(edges),
          deltaUs = RestlessDeltaUs, maxHops = 4)
        .select(col("id").as("p_partkey"), col("arrival_us"))
        .orderBy("p_partkey")
    }),

    // G45b — the same read from pure SQL through the restless_arrival
    // TVF (edges + seeds as TABLE() views with the canonical column
    // convention), held to g45's oracle verbatim.
    "g45b_restless_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val edges = tcopartEdges(s, dir)
      edges.createOrReplaceTempView("graft_g45b_edges")
      tcopartSeeds(edges).createOrReplaceTempView("graft_g45b_seeds")
      s.sql(s"""SELECT id AS p_partkey, arrival_us
        |FROM restless_arrival('graft_g45b_edges', 'graft_g45b_seeds',
        |                      $RestlessDeltaUs, 4)
        |ORDER BY p_partkey""".stripMargin)
    }),

    // G49 — TEMPORAL closeness + harmonic on the restless substrate
    // (r17 — the temporal centrality triple completes: betweenness g48,
    // closeness/harmonic here): the g19/g31-shape aggregate over the
    // minimal restless walk DEPTH per reached part (restlessMinDepths —
    // the g45 label DP stamped with discovery hops; seeds are depth-1
    // entry labels, the collective seed set is the super-source exactly
    // as g45 treats it). Exact integers: total_depth = Σ min-depth,
    // harmonic_x12 = Σ (12 div d) (lcm(1..4) = 12, depth bounded at 4 —
    // the g31 exact-scaling discipline). Hash-matched against the walk
    // replay's min-depth aggregation.
    "g49_temporal_closeness" -> ((s, dir) => {
      val edges = tcopartEdges(s, dir)
      Graphs.restlessMinDepths(s, edges, tcopartSeeds(edges),
          deltaUs = RestlessDeltaUs, maxHops = 4)
        .agg(count(lit(1)).as("n_reached"),
          sum("dist").cast("long").as("total_depth"),
          sum(expr("12 div dist")).cast("long").as("harmonic_x12"))
    }),

    // G49b (r18) — the same read from pure SQL: the restless_min_depths
    // TVF exposes the g45-DP-with-depth-stamps PRIMITIVE (id, dist) and
    // the closeness/harmonic aggregate runs as plain SQL on top (the
    // TVF stays composable instead of baking the lcm(1..4)=12 scaling
    // constant of ONE read into the operator). Held to g49's oracle
    // verbatim.
    "g49b_temporal_closeness_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val edges = tcopartEdges(s, dir)
      edges.createOrReplaceTempView("graft_g49b_edges")
      tcopartSeeds(edges).createOrReplaceTempView("graft_g49b_seeds")
      s.sql(s"""SELECT count(*) AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS total_depth,
        |  CAST(sum(12 div dist) AS BIGINT) AS harmonic_x12
        |FROM restless_min_depths('graft_g49b_edges', 'graft_g49b_seeds',
        |                         $RestlessDeltaUs, 4)""".stripMargin)
    }),

    // G46 — restless WALK COUNTING (r15): the temporal σ primitive —
    // how many distinct ≤4-edge bounded-layover relay chains from the
    // seed edges END at each part (exposure/flow accounting). Exact
    // integer counts; the cross-depth dedup that is result-preserving
    // for g45's min-arrival would be WRONG here (walks of different
    // depths are different walks), so the DP keeps per-depth
    // (node, arrival, count) labels. Hash-matched against the
    // UNION ALL walk-enumeration replay.
    "g46_restless_walk_counts" -> ((s, dir) => {
      val edges = tcopartEdges(s, dir)
      Graphs.restlessWalkCounts(s, edges, tcopartSeeds(edges),
          deltaUs = RestlessDeltaUs, maxHops = 4)
        .select(col("id").as("p_partkey"), col("n_walks"))
        .orderBy("p_partkey")
    }),

    // G46b/G47b — the counting twins from pure SQL via the
    // restless_walk_counts / restless_visits TVFs, held to g46/g47's
    // oracles verbatim.
    "g46b_walk_counts_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val edges = tcopartEdges(s, dir)
      edges.createOrReplaceTempView("graft_g46b_edges")
      tcopartSeeds(edges).createOrReplaceTempView("graft_g46b_seeds")
      s.sql(s"""SELECT id AS p_partkey, n_walks
        |FROM restless_walk_counts('graft_g46b_edges', 'graft_g46b_seeds',
        |                          $RestlessDeltaUs, 4)
        |ORDER BY p_partkey""".stripMargin)
    }),

    "g47b_visits_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val edges = tcopartEdges(s, dir)
      edges.createOrReplaceTempView("graft_g47b_edges")
      tcopartSeeds(edges).createOrReplaceTempView("graft_g47b_seeds")
      s.sql(s"""SELECT id AS p_partkey, sigma
        |FROM restless_visits('graft_g47b_edges', 'graft_g47b_seeds',
        |                     $RestlessDeltaUs, 4)
        |ORDER BY p_partkey""".stripMargin)
    }),

    // G47 — restless VISIT COUNTING (r15): temporal flow-through
    // centrality on T_copart — across every ≤4-edge bounded-layover
    // relay chain from the seed edges, how many times each part is
    // VISITED (g46 counts only endpoints). σ = Σ_d fwd_d · cont_{4−d}
    // over (node, arrival) labels — exact integers, hash-matched
    // against the path-carrying UNION ALL enumeration (every walk's
    // positions unnested and counted).
    "g47_restless_visits" -> ((s, dir) => {
      val edges = tcopartEdges(s, dir)
      Graphs.restlessVisitCounts(s, edges, tcopartSeeds(edges),
          deltaUs = RestlessDeltaUs, maxHops = 4)
        .select(col("id").as("p_partkey"), col("sigma"))
        .orderBy("p_partkey")
    }),

    // G48 — TEMPORAL BETWEENNESS, restricted exact-integer form (r16):
    // where g47 counts visits over ALL restless walks, this weights by
    // OPTIMAL (shortest-foremost) temporal paths only — the
    // Brandes-style read on the temporal substrate. Targets = the 3
    // smallest reached parts whose optimal depth is >= 3 (shallower
    // optima have no interior); σ_t(v) = v's occurrences at strictly
    // interior positions across all optimal walks to t, via the g46
    // per-depth forward DP × an exact-hop backward continuation DP (the
    // g21 σ-product shape). δ = 90 days — the DEPTH-RICH window on this
    // substrate (measured: at δ = 30 d every sf0.1 min arrival is
    // reachable in ≤ 2 hops from the entry edges, an empty measure; at
    // 90 d the depth histogram holds 27/8 depth-3 minima at
    // sf0.01/sf0.1). Exact integers — hash-matched against the
    // path-carrying walk enumeration restricted to shortest-foremost
    // walks.
    "g48_temporal_betweenness" -> ((s, dir) => {
      val edges = tcopartEdges(s, dir)
      Graphs.restlessTemporalBetweenness(s, edges, tcopartSeeds(edges),
          deltaUs = BetweennessDeltaUs, maxHops = 4, nTargets = 3)
        .orderBy("t_id", "v_id")
    }),

    // G48b — the same read from pure SQL via the restless_betweenness
    // TVF, held to g48's oracle verbatim.
    "g48b_betweenness_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val edges = tcopartEdges(s, dir)
      edges.createOrReplaceTempView("graft_g48b_edges")
      tcopartSeeds(edges).createOrReplaceTempView("graft_g48b_seeds")
      s.sql(s"""SELECT t_id, v_id, sigma
        |FROM restless_betweenness('graft_g48b_edges', 'graft_g48b_seeds',
        |                          $BetweennessDeltaUs, 4, 3)
        |ORDER BY t_id, v_id""".stripMargin)
    }),

    // G17b/G19b/G31b (r16) — the multi-source traversal family from
    // pure SQL: ONE multi_source_bfs TVF, with the profile / closeness /
    // harmonic reads each a plain GROUP BY over its (seed, id, dist)
    // output; the seed set rides a TABLE(subquery) argument. Held to
    // g17/g19/g31's oracles verbatim.
    "g17b_bfs_profile_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir).createOrReplaceTempView("graft_g17b_edges")
      s.sql("""SELECT seed, dist, count(*) AS n
        |FROM multi_source_bfs('graft_g17b_edges',
        |  TABLE(SELECT DISTINCT src AS id FROM graft_g17b_edges
        |        ORDER BY id LIMIT 3), 3)
        |GROUP BY seed, dist ORDER BY seed, dist""".stripMargin)
    }),

    "g19b_closeness_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir).createOrReplaceTempView("graft_g19b_edges")
      s.sql("""SELECT seed, count(*) - 1 AS n_reached,
        |  sum(dist) AS total_dist
        |FROM multi_source_bfs('graft_g19b_edges',
        |  TABLE(SELECT DISTINCT src AS id FROM graft_g19b_edges
        |        ORDER BY id LIMIT 3), 6)
        |GROUP BY seed ORDER BY seed""".stripMargin)
    }),

    "g31b_harmonic_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir).createOrReplaceTempView("graft_g31b_edges")
      s.sql("""SELECT seed, count(*) AS n_reached,
        |  sum(60 div dist) AS harmonic_x60
        |FROM multi_source_bfs('graft_g31b_edges',
        |  TABLE(SELECT DISTINCT src AS id FROM graft_g31b_edges
        |        ORDER BY id LIMIT 3), 6)
        |WHERE dist > 0
        |GROUP BY seed ORDER BY seed""".stripMargin)
    }),

    // G30b/G25b (r16) — vertex-pair similarity and link prediction from
    // pure SQL, held to g30/g25's oracles verbatim (the TVFs splice the
    // ops' lazy plans; the outer ORDER BY restates the ops' internal
    // deterministic order).
    "g30b_jaccard_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartPairs(s, dir).createOrReplaceTempView("graft_g30b_pairs")
      s.sql("""SELECT x, y, cn, un, jac_e6
        |FROM jaccard_similarity('graft_g30b_pairs', 'x', 'y', 100)
        |ORDER BY jac_e6 DESC, cn DESC, x, y""".stripMargin)
    }),

    "g25b_link_prediction_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartPairs(s, dir).createOrReplaceTempView("graft_g25b_pairs")
      s.sql("""SELECT x, y, cn, ra_e9
        |FROM link_prediction('graft_g25b_pairs', 'x', 'y', 50)
        |ORDER BY cn DESC, ra_e9 DESC, x, y""".stripMargin)
    }),

    // G42 — TEMPORAL CO-OCCURRENCE MOTIF counting (NEW r14): supplier
    // pairs repeatedly shipping the SAME part within 7 days — the
    // time-respecting wedge (s1 → p ← s2, |t1−t2| ≤ δ) a temporal graph
    // engine counts to find coordinated actors. Every unordered
    // shipment pair is counted exactly once (canonical order: later
    // shipdate, row-id tiebreak on equal days), aggregated per
    // supplier pair, kept at n ≥ 3. The pair generation goes through
    // the BANDED range join (RangeJoin.banded — one (part, time-band)
    // shuffle, candidates only within one δ band), never the per-part
    // quadratic self-join the oracle pays. Hash-matched.
    "g42_temporal_coship" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val a = li.select(col("l_partkey"), col("l_suppkey").as("s_a"),
        col("l_shipdate").as("ta"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid_a"))
      val b = li.select(col("l_partkey"), col("l_suppkey").as("s_b"),
        col("l_shipdate").as("tb"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("rid_b"))
      graft.ops.RangeJoin.banded(a, b, "l_partkey", "ta", "tb",
          lowerUs = -1L, upperUs = 7L * 86400L * 1000000L)
        .filter(col("s_a") =!= col("s_b"))
        // banded gives tb >= ta; on equal days the row id orders the
        // pair so each unordered shipment pair counts exactly once
        .filter(graft.Det.epochUs(col("tb")) > graft.Det.epochUs(col("ta"))
          || col("rid_b") > col("rid_a"))
        .select(least(col("s_a"), col("s_b")).as("s1"),
          greatest(col("s_a"), col("s_b")).as("s2"))
        .groupBy("s1", "s2").agg(count(lit(1)).as("n_coship"))
        .filter(col("n_coship") >= 3)
        .orderBy("s1", "s2")
    }),

    // G42b — the temporal wedge counter from pure SQL (r17 graph-door
    // tail): generic (key, actor, ts, rid) observation surface, the
    // same banded-range-join plan; held to g42's oracle verbatim.
    "g42b_coship_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Tables.load(s, dir, "lineitem")
        .createOrReplaceTempView("graft_g42b_li")
      s.sql("""SELECT s1, s2, n_coship
        |FROM temporal_cooccurrence(TABLE(SELECT l_partkey, l_suppkey,
        |       l_shipdate, l_orderkey * 10 + l_linenumber AS rid
        |       FROM graft_g42b_li),
        |     'l_partkey', 'l_suppkey', 'l_shipdate', 'rid',
        |     604800000000, 3)
        |ORDER BY s1, s2""".stripMargin)
    }),

    // G40d — Louvain over a USER-SUPPLIED edge-weight column (NEW r14):
    // the weighted co-part graph (w = co-occurrence multiplicity), 2
    // synchronous weighted rounds — the public weighted-modularity
    // surface (m = Σw). Deterministic (exact-integer gains, swap
    // suppression), hash-checked against the unrolled weighted replay.
    "g40d_louvain_weighted" -> ((s, dir) => {
      Graphs.louvainWeightedGraph(s, Graphs.copartWeightedPairs(s, dir),
          rounds = 2)
        .orderBy("id")
    }),

    // G29 — reciprocity of the DIRECTED part-flow graph (the g23 SCC
    // substrate): of all distinct directed edges, how many have their
    // reverse present — exact integer (n_edges, n_reciprocal) with the
    // ratio left to the caller; a semi join against the swapped edge
    // list, no all-pairs anything. Hash-matched.
    "g29_reciprocity" -> ((s, dir) =>
      Graphs.reciprocityCounts(
        Graphs.partFlowEdges(s, dir).transform(graft.ops.Checkpoints.cut))),

    // G28 — degree assortativity moments of the co-part graph: the six
    // exact integer sums Newman's r is computed from (the one float
    // division stays with the caller) — do high-degree parts co-occur
    // with high-degree parts? Hash-matched.
    "g28_assortativity" -> ((s, dir) =>
      Graphs.assortativityMoments(Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut))),

    // G27 — local clustering coefficients on the co-part graph: exact
    // integer per-vertex triangle counts over wedge counts (coeff_e6 =
    // 1e6·tri div wedges; deg >= 2 vertices only). The per-vertex
    // cohesion read between g07's global count and g22's truss
    // structure; hash-matched.
    "g27_clustering_coeff" -> ((s, dir) =>
      Graphs.clusteringCoefficients(
        Graphs.copartPairs(s, dir).transform(graft.ops.Checkpoints.cut))
        .orderBy("id")),

    // G25 — link prediction on the co-part graph: top-50 non-adjacent
    // pairs by common-neighbor count + exact-integer Resource Allocation
    // index (Σ 10^9 div deg over common neighbors — the Adamic-Adar
    // family with a cross-engine-hashable weighting). One shuffle to
    // neighbor lists, in-row wedge expansion, pair-keyed score agg +
    // anti join against the edge set.
    "g25_link_prediction" -> ((s, dir) =>
      Graphs.linkPrediction(s, Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut), topK = 50)),

    // G30 — neighborhood Jaccard similarity on the co-part graph:
    // top-100 vertex pairs by exact-integer Jaccard of their neighbor
    // sets (jac_e6 = 10^6·|N∩| div |N∪|) — the vertex-similarity dual
    // of g25's link prediction (adjacent pairs INCLUDED: similarity is
    // a neighborhood property, not an edge property). Hash-matched.
    "g30_jaccard_similarity" -> ((s, dir) =>
      Graphs.neighborhoodJaccard(Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut), topK = 100)),

    // G10b — temporal latest-departure (the triple's backward member):
    // target = the LAST event of the seed user's session chain, deadline
    // = its own timestamp, 8 hops. On the chain fixture every reachable
    // event's latest departure is its own ts (each hop's availability IS
    // the source event's time), which the DuckDB window replay states
    // directly; the richer multi-out-degree semantics are gated in
    // GraphOpsSpec on hand temporal graphs where depart != ts.
    "g10b_latest_departure" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val seedUser = ev.orderBy("event_id").select(col("user_id")).head()
        .getLong(0)
      val tgt = ev.filter(col("user_id") === seedUser)
        .orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_id"), graft.Det.epochUs(col("ts"))).head()
      Graphs.latestDeparture(s, Graphs.sessionEdges(s, dir),
          tgt.getLong(0), tgt.getLong(1), maxHops = 8)
        .select(col("id").as("event_id"),
          timestamp_micros(col("depart_us")).as("depart_ts"))
        .orderBy("event_id")
    }),

    // G10c — temporal fastest-journey (the triple's third member) from
    // g10's seed, 8 hops: minimum (arrival − start) duration per
    // reachable event via the Pareto-frontier iteration. On the chain
    // fixture the only journey to hop-k is start = the seed's ts, so
    // duration = ts_k − ts_seed; Pareto semantics proper (a later start
    // strictly shortening a journey) are gated in GraphOpsSpec.
    "g10c_fastest_journey" -> ((s, dir) => {
      val ev = Tables.load(s, dir, "events")
      val seedId = ev.orderBy("event_id").select(col("event_id")).head()
        .getLong(0)
      Graphs.fastestJourney(s, Graphs.sessionEdges(s, dir), seedId,
          maxHops = 8)
        .select(col("id").as("event_id"), col("duration_us"))
        .orderBy("event_id")
    }),

    // G10d/e/f (r16) — the plain temporal-path TRIPLE from pure SQL via
    // the temporal_arrival / latest_departure / fastest_journey TVFs
    // (the engine's signature traversal should not be harder to reach
    // from SQL than its restless generalization, which got its door in
    // r15). Each twin computes the same driver-side seed as its Scala
    // sibling, splices the same plan through the TVF, and is held to
    // the sibling's oracle verbatim.
    "g10d_temporal_path_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val ev = Tables.load(s, dir, "events")
      val seedRow = ev.orderBy("event_id")
        .select(col("event_id"), graft.Det.epochUs(col("ts"))).head()
      Graphs.sessionEdges(s, dir).createOrReplaceTempView("graft_g10d_edges")
      s.sql(s"""SELECT id AS event_id,
        |  timestamp_micros(arrival_us) AS arrival_ts
        |FROM temporal_arrival('graft_g10d_edges', ${seedRow.getLong(0)},
        |                      ${seedRow.getLong(1)}, 8)
        |ORDER BY event_id""".stripMargin)
    }),

    "g10e_latest_departure_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val ev = Tables.load(s, dir, "events")
      val seedUser = ev.orderBy("event_id").select(col("user_id")).head()
        .getLong(0)
      val tgt = ev.filter(col("user_id") === seedUser)
        .orderBy(col("ts").desc, col("event_id").desc)
        .select(col("event_id"), graft.Det.epochUs(col("ts"))).head()
      Graphs.sessionEdges(s, dir).createOrReplaceTempView("graft_g10e_edges")
      s.sql(s"""SELECT id AS event_id,
        |  timestamp_micros(depart_us) AS depart_ts
        |FROM latest_departure('graft_g10e_edges', ${tgt.getLong(0)},
        |                      ${tgt.getLong(1)}, 8)
        |ORDER BY event_id""".stripMargin)
    }),

    "g10f_fastest_journey_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val ev = Tables.load(s, dir, "events")
      val seedId = ev.orderBy("event_id").select(col("event_id")).head()
        .getLong(0)
      Graphs.sessionEdges(s, dir).createOrReplaceTempView("graft_g10f_edges")
      s.sql(s"""SELECT id AS event_id, duration_us
        |FROM fastest_journey('graft_g10f_edges', $seedId, 8)
        |ORDER BY event_id""".stripMargin)
    }),

    // G07b/G14b/G22b/G32b (r16) — the second-tier graph SQL door:
    // triangles, k-core, k-truss and Katz through their TVFs, held to
    // the Scala siblings' hash oracles verbatim (same plan, same exact
    // integers).
    "g07b_triangles_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartPairs(s, dir).createOrReplaceTempView("graft_g07b_pairs")
      s.sql("SELECT n_triangles FROM triangles('graft_g07b_pairs', 'x', 'y')")
    }),

    "g14b_kcore_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir).createOrReplaceTempView("graft_g14b_edges")
      s.sql("""SELECT id, deg
        |FROM k_core('graft_g14b_edges', 'src', 'dst', 2, 3)
        |ORDER BY id""".stripMargin)
    }),

    "g22b_ktruss_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartPairs(s, dir).createOrReplaceTempView("graft_g22b_pairs")
      s.sql("""SELECT x, y
        |FROM k_truss('graft_g22b_pairs', 'x', 'y', 3, 2)
        |ORDER BY x, y""".stripMargin)
    }),

    "g32b_katz_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.copartEdges(s, dir).createOrReplaceTempView("graft_g32b_edges")
      s.sql("""SELECT id AS part_id, w1, w2, w3, katz_x64
        |FROM katz('graft_g32b_edges', 'src', 'dst')
        |ORDER BY katz_x64 DESC, part_id LIMIT 100""".stripMargin)
    }),

    // G18b/G08d (r16) — HITS and personalized PageRank from pure SQL.
    // Tolerance-family like g08c (float iteration): no DuckDB oracle;
    // GraphOpsSpec gates each row-for-row equal to its Scala sibling
    // (identical plan ⇒ bit-identical floats).
    "g18b_hits_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.supplyEdges(s, dir).select("src", "dst")
        .createOrReplaceTempView("graft_g18b_edges")
      s.sql("""SELECT id, round(auth * 1000, 4) AS auth_k,
        |  round(hub * 1000, 4) AS hub_k
        |FROM hits('graft_g18b_edges', 'src', 'dst', 10)
        |ORDER BY auth_k DESC, id LIMIT 20""".stripMargin)
    }),

    "g08d_ppr_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      Graphs.supplyEdges(s, dir).select("src", "dst")
        .createOrReplaceTempView("graft_g08d_edges")
      s.sql(s"""SELECT id, round(rank * 1e6, 4) AS rank_ppm
        |FROM ppr('graft_g08d_edges', 'src', 'dst', ${Graphs.CUST + 1L}, 10)
        |ORDER BY rank_ppm DESC, id LIMIT 100""".stripMargin)
    })
  )

  // Shared oracle snippet: restricted co-part edge list (both directions).
  private val copartCte =
    """ok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
      |       HAVING count(DISTINCT l_partkey) <= 3),
      |pairs AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
      |          FROM lineitem a JOIN lineitem b
      |            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      |          WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)),
      |e AS (SELECT x AS src, y AS dst FROM pairs
      |      UNION ALL SELECT y, x FROM pairs)""".stripMargin

  // Shared oracle snippet: the 3-round label-propagation replay over `e`
  // (deterministic tie-break count desc, min label — g13's rounds).
  private val lpCte =
    """l0 AS (SELECT DISTINCT src AS id, src AS label FROM e),
      |l1 AS (SELECT id, label FROM (
      |  SELECT e.src AS id, l.label,
      |    row_number() OVER (PARTITION BY e.src
      |      ORDER BY count(*) DESC, l.label ASC) AS rn
      |  FROM e JOIN l0 l ON e.dst = l.id
      |  GROUP BY e.src, l.label) WHERE rn = 1),
      |l2 AS (SELECT id, label FROM (
      |  SELECT e.src AS id, l.label,
      |    row_number() OVER (PARTITION BY e.src
      |      ORDER BY count(*) DESC, l.label ASC) AS rn
      |  FROM e JOIN l1 l ON e.dst = l.id
      |  GROUP BY e.src, l.label) WHERE rn = 1),
      |l3 AS (SELECT id, label FROM (
      |  SELECT e.src AS id, l.label,
      |    row_number() OVER (PARTITION BY e.src
      |      ORDER BY count(*) DESC, l.label ASC) AS rn
      |  FROM e JOIN l2 l ON e.dst = l.id
      |  GROUP BY e.src, l.label) WHERE rn = 1)""".stripMargin

  /** One unrolled Louvain round (g40's oracle): lv{i-1} -> lv{i} via the
    * same integer gain Δ = 4m·(k_vB − k_vA) − 2·d_v·(deg_B − deg_A + d_v)
    * and (gain desc, community asc) argmax the engine computes. k_vA is
    * a self-join of the per-(vertex, community) neighbor counts.
    */
  /** Force-materialize the named CTEs of an oracle fragment (DuckDB
    * inlines CTEs by default, so a CTE referenced k times re-expands its
    * whole subtree k-fold — g40b references lv2 four times and each lv2
    * expansion re-expands both level-1 rounds, which exploded parquet
    * file handles past the 20k fd limit before materialization). */
  private def mat(cte: String, names: String*): String =
    names.foldLeft(cte)((c, n) => c.replace(s"$n AS (", s"$n AS MATERIALIZED ("))

  /** One unrolled H-index round (g43's oracle): c{i-1} -> c{i} —
    * neighbors' values ranked desc per vertex, h = max rank r with
    * value ≥ r (0 if none).
    */
  private def hIndexRoundCte(i: Int): String = {
    val prev = s"hc${i - 1}"
    s"""hn$i AS (SELECT e.src AS id, p.c AS cn,
       |    row_number() OVER (PARTITION BY e.src
       |      ORDER BY p.c DESC, e.dst ASC) AS r
       |  FROM e JOIN $prev p ON p.id = e.dst),
       |hc$i AS (SELECT id,
       |    CAST(coalesce(max(CASE WHEN cn >= r THEN r END), 0) AS BIGINT)
       |      AS c
       |  FROM hn$i GROUP BY id)""".stripMargin
  }

  private def louvainRoundCte(i: Int): String = {
    val prev = s"lv${i - 1}"
    s"""ds$i AS (SELECT community, sum(deg) AS degsum
       |  FROM $prev JOIN deg USING (id) GROUP BY 1),
       |kv$i AS (SELECT e.src AS id, l.community AS cand, count(*) AS k
       |  FROM e JOIN $prev l ON l.id = e.dst GROUP BY 1, 2),
       |g$i AS (SELECT kv.id, kv.cand,
       |    4 * CAST(mm.m AS HUGEINT) * (kv.k - coalesce(ka.k, 0)) -
       |    2 * CAST(d.deg AS HUGEINT) *
       |      (dsb.degsum - dsa.degsum + d.deg) AS gain
       |  FROM kv$i kv
       |  JOIN $prev l ON l.id = kv.id
       |  JOIN deg d ON d.id = kv.id
       |  JOIN ds$i dsa ON dsa.community = l.community
       |  JOIN ds$i dsb ON dsb.community = kv.cand
       |  LEFT JOIN kv$i ka ON ka.id = kv.id AND ka.cand = l.community
       |  CROSS JOIN mm
       |  WHERE kv.cand <> l.community),
       |b$i AS (SELECT id, cand FROM (
       |  SELECT id, cand, row_number() OVER (PARTITION BY id
       |    ORDER BY gain DESC, cand ASC) AS rn
       |  FROM g$i WHERE gain > 0) WHERE rn = 1),
       |lv$i AS (SELECT l.id, coalesce(b.cand, l.community) AS community
       |  FROM $prev l LEFT JOIN b$i b USING (id))""".stripMargin
  }

  /** One unrolled WEIGHTED Louvain round on the contracted quotient
    * (g40b's oracle, level 2): wl{i-1} -> wl{i} with k = Σ edge weight
    * and deg from `qdeg` (self-loops already folded in at 2×) — the
    * same gain/tie-break algebra as [[louvainRoundCte]], independently
    * restated over the quotient relations rather than ported from the
    * Scala fold. The al-CTE replays the swap-suppression guard
    * ([[Graphs.louvainLevelWeighted]]): a best move ca→cb is dropped
    * when ca > cb and a reciprocal cb→ca best move exists this round.
    */
  private def louvainWeightedRoundCte(i: Int, p: String = "w",
      qe: String = "qe", qdeg: String = "qdeg"): String = {
    val prev = s"${p}l${i - 1}"
    s"""${p}ds$i AS (SELECT community, sum(deg) AS degsum
       |  FROM $prev JOIN $qdeg USING (id) GROUP BY 1),
       |${p}kv$i AS (SELECT q.src AS id, l.community AS cand, sum(q.w) AS k
       |  FROM $qe q JOIN $prev l ON l.id = q.dst GROUP BY 1, 2),
       |${p}g$i AS (SELECT kv.id, l.community AS ca, kv.cand,
       |    4 * CAST(mm.m AS HUGEINT) * (kv.k - coalesce(ka.k, 0)) -
       |    2 * CAST(d.deg AS HUGEINT) *
       |      (dsb.degsum - dsa.degsum + d.deg) AS gain
       |  FROM ${p}kv$i kv
       |  JOIN $prev l ON l.id = kv.id
       |  JOIN $qdeg d ON d.id = kv.id
       |  JOIN ${p}ds$i dsa ON dsa.community = l.community
       |  JOIN ${p}ds$i dsb ON dsb.community = kv.cand
       |  LEFT JOIN ${p}kv$i ka ON ka.id = kv.id AND ka.cand = l.community
       |  CROSS JOIN mm
       |  WHERE kv.cand <> l.community),
       |${p}b$i AS (SELECT id, ca, cand FROM (
       |  SELECT id, ca, cand, row_number() OVER (PARTITION BY id
       |    ORDER BY gain DESC, cand ASC) AS rn
       |  FROM ${p}g$i WHERE gain > 0) WHERE rn = 1),
       |${p}mp$i AS (SELECT DISTINCT ca, cand AS cb FROM ${p}b$i),
       |${p}al$i AS (SELECT id, cand FROM ${p}b$i m
       |  WHERE NOT (m.ca > m.cand AND EXISTS (SELECT 1 FROM ${p}mp$i r
       |    WHERE r.ca = m.cand AND r.cb = m.ca))),
       |${p}l$i AS (SELECT l.id, coalesce(b.cand, l.community) AS community
       |  FROM $prev l LEFT JOIN ${p}al$i b USING (id))""".stripMargin
  }

  /** The level-k contraction + weighted-round block (g40c's oracle,
    * levels ≥ 2): quotient the ORIGINAL pairs by the composed label map
    * `lbl`, then run `rounds` weighted rounds under CTE prefix `p`,
    * ending at label map ${p}l$rounds (quotient-vertex -> community).
    */
  private def louvainLevelBlock(lbl: String, p: String,
      rounds: Int, rel: String = "pairs",
      wExpr: String = "count(*)"): String = {
    val qp = s"${p}qp"
    val quotient =
      s"""$qp AS (SELECT least(a.community, b.community) AS x,
       |    greatest(a.community, b.community) AS y, $wExpr AS w
       |  FROM $rel pp JOIN $lbl a ON a.id = pp.x
       |  JOIN $lbl b ON b.id = pp.y
       |  WHERE a.community <> b.community GROUP BY 1, 2),
       |${p}qsl AS (SELECT a.community AS id, $wExpr AS sl
       |  FROM $rel pp JOIN $lbl a ON a.id = pp.x
       |  JOIN $lbl b ON b.id = pp.y
       |  WHERE a.community = b.community GROUP BY 1),
       |${p}qe AS MATERIALIZED (SELECT x AS src, y AS dst, w FROM $qp
       |       UNION ALL SELECT y, x, w FROM $qp),
       |${p}qverts AS (SELECT DISTINCT community AS id FROM $lbl),
       |${p}qdeg AS MATERIALIZED (
       |  SELECT v.id, coalesce(s.wsum, 0) + 2 * coalesce(l.sl, 0)
       |    AS deg
       |  FROM ${p}qverts v
       |  LEFT JOIN (SELECT src AS id, sum(w) AS wsum FROM ${p}qe
       |             GROUP BY 1) s USING (id)
       |  LEFT JOIN ${p}qsl l USING (id)),
       |${mat(s"${p}l0 AS (SELECT id, id AS community FROM ${p}qdeg)",
          s"${p}l0")}""".stripMargin
    val roundsSql = (1 to rounds).map(i =>
      mat(louvainWeightedRoundCte(i, p, s"${p}qe", s"${p}qdeg"),
        s"${p}kv$i", s"${p}b$i", s"${p}l$i")).mkString(",\n")
    s"$quotient,\n$roundsSql"
  }

  private val oraclesBase: Map[String, String] = Map(
    // G45 replay: depth-bounded restless walk enumeration over the
    // T_copart multigraph (FIXTURES.md); UNION dedups (id, arr, depth)
    // labels, the engine dedups (id, arr) across depths — equal final
    // min-arrival sets by the BFS first-discovery argument.
    "g45_restless_arrival" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
        |      epoch_us(CAST(a.l_shipdate AS TIMESTAMP)) AS dep,
        |      epoch_us(CAST(b.l_shipdate AS TIMESTAMP)) AS arr
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE b.l_shipdate > a.l_shipdate),
        |seeds AS (SELECT dst, arr FROM e
        |          ORDER BY dep, src, dst, arr LIMIT 10),
        |walk(id, arr, dd) AS (
        |  SELECT dst, arr, 1 FROM seeds
        |  UNION
        |  SELECT e.dst, e.arr, walk.dd + 1 FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dd < 4 AND e.dep >= walk.arr
        |    AND e.dep <= walk.arr + ${30L * 86400L * 1000000L})
        |SELECT id AS p_partkey, min(arr) AS arrival_us FROM walk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // g49: the g45 walk replay's min-depth aggregation — min(dd) per
    // reached id, then the one-row closeness/harmonic read.
    "g49_temporal_closeness" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
        |      epoch_us(CAST(a.l_shipdate AS TIMESTAMP)) AS dep,
        |      epoch_us(CAST(b.l_shipdate AS TIMESTAMP)) AS arr
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE b.l_shipdate > a.l_shipdate),
        |seeds AS (SELECT dst, arr FROM e
        |          ORDER BY dep, src, dst, arr LIMIT 10),
        |walk(id, arr, dd) AS (
        |  SELECT dst, arr, 1 FROM seeds
        |  UNION
        |  SELECT e.dst, e.arr, walk.dd + 1 FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dd < 4 AND e.dep >= walk.arr
        |    AND e.dep <= walk.arr + ${30L * 86400L * 1000000L}),
        |md AS (SELECT id, min(dd) AS d FROM walk GROUP BY 1)
        |SELECT count(*) AS n_reached, CAST(sum(d) AS BIGINT) AS total_depth,
        |  CAST(sum(12 // d) AS BIGINT) AS harmonic_x12 FROM md""".stripMargin,

    // G46 replay: the same restless walk space ENUMERATED (UNION ALL —
    // every walk is one row; the engine's per-depth count DP must agree
    // exactly).
    "g46_restless_walk_counts" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
        |      epoch_us(CAST(a.l_shipdate AS TIMESTAMP)) AS dep,
        |      epoch_us(CAST(b.l_shipdate AS TIMESTAMP)) AS arr
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE b.l_shipdate > a.l_shipdate),
        |seeds AS (SELECT dst, arr FROM e
        |          ORDER BY dep, src, dst, arr LIMIT 10),
        |walk(id, arr, dd) AS (
        |  SELECT dst, arr, 1 FROM seeds
        |  UNION ALL
        |  SELECT e.dst, e.arr, walk.dd + 1 FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dd < 4 AND e.dep >= walk.arr
        |    AND e.dep <= walk.arr + ${30L * 86400L * 1000000L})
        |SELECT id AS p_partkey, count(*) AS n_walks FROM walk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // G47 replay: the same walk space enumerated WITH its paths; every
    // walk's positions unnest and count per node — the engine's
    // fwd × continuation label composition must agree exactly.
    "g47_restless_visits" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
        |      epoch_us(CAST(a.l_shipdate AS TIMESTAMP)) AS dep,
        |      epoch_us(CAST(b.l_shipdate AS TIMESTAMP)) AS arr
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE b.l_shipdate > a.l_shipdate),
        |seeds AS (SELECT dst, arr FROM e
        |          ORDER BY dep, src, dst, arr LIMIT 10),
        |walk(path, id, arr, dd) AS (
        |  SELECT [dst], dst, arr, 1 FROM seeds
        |  UNION ALL
        |  SELECT list_append(walk.path, e.dst), e.dst, e.arr, walk.dd + 1
        |  FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dd < 4 AND e.dep >= walk.arr
        |    AND e.dep <= walk.arr + ${30L * 86400L * 1000000L})
        |SELECT v AS p_partkey, count(*) AS sigma
        |FROM (SELECT unnest(path) AS v FROM walk)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // G48 replay: the g47 path-carrying enumeration RESTRICTED to
    // shortest-foremost walks — per id the min arrival, per (id, min
    // arrival) the min depth, targets = 3 smallest ids with depth >= 3,
    // then every optimal walk's strictly-interior positions unnested
    // and counted.
    "g48_temporal_betweenness" ->
      s"""WITH RECURSIVE e AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
        |      epoch_us(CAST(a.l_shipdate AS TIMESTAMP)) AS dep,
        |      epoch_us(CAST(b.l_shipdate AS TIMESTAMP)) AS arr
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE b.l_shipdate > a.l_shipdate),
        |seeds AS (SELECT dst, arr FROM e
        |          ORDER BY dep, src, dst, arr LIMIT 10),
        |walk(path, id, arr, dd) AS (
        |  SELECT [dst], dst, arr, 1 FROM seeds
        |  UNION ALL
        |  SELECT list_append(walk.path, e.dst), e.dst, e.arr, walk.dd + 1
        |  FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dd < 4 AND e.dep >= walk.arr
        |    AND e.dep <= walk.arr + ${90L * 86400L * 1000000L}),
        |am AS (SELECT id, min(arr) AS a FROM walk GROUP BY 1),
        |dm AS (SELECT w.id, w.arr, min(w.dd) AS d FROM walk w
        |       JOIN am ON am.id = w.id AND am.a = w.arr GROUP BY 1, 2),
        |tg AS (SELECT id, arr, d FROM dm WHERE d >= 3
        |       ORDER BY id LIMIT 3),
        |opt AS (SELECT tg.id AS t_id, w.path, tg.d
        |        FROM walk w JOIN tg ON w.id = tg.id AND w.arr = tg.arr
        |          AND w.dd = tg.d),
        |iv AS (SELECT t_id, unnest(list_slice(path, 2, d - 1)) AS v
        |       FROM opt)
        |SELECT t_id, v AS v_id, CAST(count(*) AS BIGINT) AS sigma
        |FROM iv GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g40_louvain" ->
      s"""WITH $copartCte,
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
        |mm AS (SELECT count(*) AS m FROM pairs),
        |lv0 AS (SELECT id, id AS community FROM deg),
        |${louvainRoundCte(1)},
        |${louvainRoundCte(2)}
        |SELECT id, community FROM lv2 ORDER BY id""".stripMargin,

    "g40b_louvain_multilevel" ->
      s"""WITH ${mat(copartCte, "pairs", "e")},
        |deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
        |mm AS (SELECT count(*) AS m FROM pairs),
        |${mat("lv0 AS (SELECT id, id AS community FROM deg)", "lv0")},
        |${mat(louvainRoundCte(1), "kv1", "lv1")},
        |${mat(louvainRoundCte(2), "kv2", "lv2")},
        |qp AS (SELECT least(a.community, b.community) AS x,
        |    greatest(a.community, b.community) AS y, count(*) AS w
        |  FROM pairs p JOIN lv2 a ON a.id = p.x JOIN lv2 b ON b.id = p.y
        |  WHERE a.community <> b.community GROUP BY 1, 2),
        |qsl AS (SELECT a.community AS id, count(*) AS sl
        |  FROM pairs p JOIN lv2 a ON a.id = p.x JOIN lv2 b ON b.id = p.y
        |  WHERE a.community = b.community GROUP BY 1),
        |qe AS MATERIALIZED (SELECT x AS src, y AS dst, w FROM qp
        |       UNION ALL SELECT y, x, w FROM qp),
        |qverts AS (SELECT DISTINCT community AS id FROM lv2),
        |qdeg AS MATERIALIZED (
        |  SELECT v.id, coalesce(s.wsum, 0) + 2 * coalesce(l.sl, 0)
        |    AS deg
        |  FROM qverts v
        |  LEFT JOIN (SELECT src AS id, sum(w) AS wsum FROM qe GROUP BY 1) s
        |    USING (id)
        |  LEFT JOIN qsl l USING (id)),
        |${mat("wl0 AS (SELECT id, id AS community FROM qdeg)", "wl0")},
        |${mat(louvainWeightedRoundCte(1), "wkv1", "wb1", "wl1")},
        |${mat(louvainWeightedRoundCte(2), "wkv2", "wb2", "wl2")}
        |SELECT l.id, w.community FROM lv2 l
        |JOIN wl2 w ON w.id = l.community ORDER BY l.id""".stripMargin,

    // g44: 3 unrolled WEIGHTED label-propagation rounds over the
    // multiplicity-weighted co-part edges (vote = sum of incident w).
    "g44_weighted_lpa" -> {
      def round(i: Int) =
        s"""wl$i AS (SELECT id, label FROM (
           |  SELECT we.src AS id, l.label,
           |    row_number() OVER (PARTITION BY we.src
           |      ORDER BY sum(we.w) DESC, l.label ASC) AS rn
           |  FROM we JOIN wl${i - 1} l ON we.dst = l.id
           |  GROUP BY we.src, l.label) WHERE rn = 1)""".stripMargin
      s"""WITH wok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |       HAVING count(DISTINCT l_partkey) BETWEEN 2 AND 3),
        |wpp AS (SELECT DISTINCT a.l_orderkey, a.l_partkey AS x,
        |    b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey IN (SELECT l_orderkey FROM wok)),
        |wp AS MATERIALIZED (SELECT x, y, count(*) AS w FROM wpp
        |  GROUP BY 1, 2),
        |we AS MATERIALIZED (SELECT x AS src, y AS dst, w FROM wp
        |       UNION ALL SELECT y, x, w FROM wp),
        |${mat("wl0 AS (SELECT DISTINCT src AS id, src AS label FROM we)",
          "wl0")},
        |${mat(round(1), "wl1")},
        |${mat(round(2), "wl2")},
        |${mat(round(3), "wl3")}
        |SELECT id, label FROM wl3 ORDER BY id""".stripMargin
    },

    // g43: 8 unrolled H-index rounds from degree over the co-part
    // edges — the same recurrence the engine folds.
    "g43_coreness" ->
      s"""WITH ${mat(copartCte, "pairs", "e")},
        |${mat("hc0 AS (SELECT src AS id, count(*) AS c FROM e GROUP BY 1)",
          "hc0")},
        |${(1 to 8).map(i => mat(hIndexRoundCte(i), s"hc$i"))
          .mkString(",\n")}
        |SELECT id, c AS coreness FROM hc8 ORDER BY id""".stripMargin,

    // g40e: the g40d weighted rounds (level 1) + two weighted
    // contraction blocks (weights SUMMED through the composed labels),
    // unrolled — the engine's convergence early-exits are no-op
    // replays exactly as in g40c.
    "g40e_louvain_weighted_converged" ->
      s"""WITH wok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |       HAVING count(DISTINCT l_partkey) BETWEEN 2 AND 3),
        |wpp AS (SELECT DISTINCT a.l_orderkey, a.l_partkey AS x,
        |    b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey IN (SELECT l_orderkey FROM wok)),
        |wp AS MATERIALIZED (SELECT x, y, count(*) AS w FROM wpp
        |  GROUP BY 1, 2),
        |qe AS MATERIALIZED (SELECT x AS src, y AS dst, w FROM wp
        |       UNION ALL SELECT y, x, w FROM wp),
        |qdeg AS MATERIALIZED (SELECT src AS id, sum(w) AS deg FROM qe
        |  GROUP BY 1),
        |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM wp),
        |${mat("wl0 AS (SELECT id, id AS community FROM qdeg)", "wl0")},
        |${mat(louvainWeightedRoundCte(1), "wkv1", "wb1", "wl1")},
        |${mat(louvainWeightedRoundCte(2), "wkv2", "wb2", "wl2")},
        |${louvainLevelBlock("wl2", "x2", 2, rel = "wp",
          wExpr = "CAST(sum(pp.w) AS BIGINT)")},
        |cel2 AS MATERIALIZED (SELECT l.id, w.community FROM wl2 l
        |  JOIN x2l2 w ON w.id = l.community),
        |${louvainLevelBlock("cel2", "x3", 2, rel = "wp",
          wExpr = "CAST(sum(pp.w) AS BIGINT)")}
        |SELECT c.id, x.community FROM cel2 c
        |JOIN x3l2 x ON x.id = c.community ORDER BY c.id""".stripMargin,

    // g42: the direct per-part pair join the banded engine plan avoids
    // — same canonical once-per-unordered-pair rule.
    "g42_temporal_coship" ->
      """WITH li AS (SELECT l_partkey AS p, l_suppkey AS s,
        |    CAST(l_shipdate AS TIMESTAMP) AS t,
        |    l_orderkey * 10 + l_linenumber AS rid
        |  FROM lineitem),
        |pairs AS (SELECT least(a.s, b.s) AS s1, greatest(a.s, b.s) AS s2
        |  FROM li a JOIN li b ON a.p = b.p AND a.s <> b.s
        |   AND (b.t > a.t OR (b.t = a.t AND b.rid > a.rid))
        |   AND epoch_us(b.t) - epoch_us(a.t) <= 604800000000)
        |SELECT s1, s2, count(*) AS n_coship FROM pairs
        |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY 1, 2""".stripMargin,

    // g40d: the weighted rounds replayed directly over the
    // multiplicity-weighted co-part pairs — qdeg from Σ incident w (no
    // self-loops), mm = Σw (the weighted modularity scale).
    "g40d_louvain_weighted" ->
      s"""WITH wok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |       HAVING count(DISTINCT l_partkey) BETWEEN 2 AND 3),
        |wpp AS (SELECT DISTINCT a.l_orderkey, a.l_partkey AS x,
        |    b.l_partkey AS y
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  WHERE a.l_orderkey IN (SELECT l_orderkey FROM wok)),
        |wp AS MATERIALIZED (SELECT x, y, count(*) AS w FROM wpp
        |  GROUP BY 1, 2),
        |qe AS MATERIALIZED (SELECT x AS src, y AS dst, w FROM wp
        |       UNION ALL SELECT y, x, w FROM wp),
        |qdeg AS MATERIALIZED (SELECT src AS id, sum(w) AS deg FROM qe
        |  GROUP BY 1),
        |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM wp),
        |${mat("wl0 AS (SELECT id, id AS community FROM qdeg)", "wl0")},
        |${mat(louvainWeightedRoundCte(1), "wkv1", "wb1", "wl1")},
        |${mat(louvainWeightedRoundCte(2), "wkv2", "wb2", "wl2")}
        |SELECT id, community FROM wl2 ORDER BY id""".stripMargin,

    // g40c: the fully unrolled 3-level replay — level 1 = the g40
    // rounds, then two contract-by-composed-labels + weighted-rounds
    // blocks. The engine's convergence early-exits are no-ops here by
    // construction: a level that applies zero moves leaves the composed
    // map unchanged, so the replayed extra level recomputes an
    // identical quotient and moves nothing either.
    "g40c_louvain_converged" ->
      s"""WITH ${mat(copartCte, "pairs", "e")},
        |deg AS MATERIALIZED (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
        |mm AS (SELECT count(*) AS m FROM pairs),
        |${mat("lv0 AS (SELECT id, id AS community FROM deg)", "lv0")},
        |${mat(louvainRoundCte(1), "kv1", "lv1")},
        |${mat(louvainRoundCte(2), "kv2", "lv2")},
        |${louvainLevelBlock("lv2", "w2", 2)},
        |cl2 AS MATERIALIZED (SELECT l.id, w.community FROM lv2 l
        |  JOIN w2l2 w ON w.id = l.community),
        |${louvainLevelBlock("cl2", "w3", 2)}
        |SELECT c.id, x.community FROM cl2 c
        |JOIN w3l2 x ON x.id = c.community ORDER BY c.id""".stripMargin,

    "g01_graph_build" ->
      """SELECT kind, n FROM (
        |  SELECT 'v_customer' AS kind, count(*) AS n FROM customer
        |  UNION ALL SELECT 'v_order', count(*) FROM orders
        |  UNION ALL SELECT 'v_part', count(*) FROM part
        |  UNION ALL SELECT 'v_supplier', count(*) FROM supplier
        |  UNION ALL SELECT 'e_cust_order', count(*) FROM orders
        |  UNION ALL SELECT 'e_order_part', count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  UNION ALL SELECT 'e_order_supp', count(*) FROM
        |    (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |  UNION ALL SELECT 'e_supp_part', count(*) FROM
        |    (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem))
        |ORDER BY kind""".stripMargin,

    "g02_degree_dist" ->
      """SELECT deg, count(*) AS n_customers FROM (
        |  SELECT c_custkey, count(o_orderkey) AS deg
        |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |  GROUP BY 1)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g03_khop" ->
      """WITH o1 AS (SELECT o_orderkey FROM orders WHERE o_custkey = 1),
        |  p2 AS (SELECT DISTINCT l_partkey FROM lineitem
        |         WHERE l_orderkey IN (SELECT o_orderkey FROM o1)),
        |  s2 AS (SELECT DISTINCT l_suppkey FROM lineitem
        |         WHERE l_orderkey IN (SELECT o_orderkey FROM o1)),
        |  p3 AS (SELECT DISTINCT l_partkey FROM lineitem
        |         WHERE l_suppkey IN (SELECT l_suppkey FROM s2))
        |SELECT DISTINCT l_partkey AS p_partkey FROM
        |  (SELECT l_partkey FROM p2 UNION ALL SELECT l_partkey FROM p3)
        |ORDER BY p_partkey""".stripMargin,

    // g23 replays SCC from first principles: recursive transitive
    // closure over the part-flow edges, mutual pairs = (a ->* b) ∧
    // (b ->* a), scc_id = min mutual partner (self included).
    // SCC replay WITHOUT the all-pairs closure (VERDICT r10 "next" #3:
    // the old full-closure oracle ran ~30 min at sf0.1): peel the min
    // vertex's SCC first as fwd-closure ∩ bwd-closure (two single-
    // source recursions, O(V) rows each — the substrate's one giant
    // SCC), then run the exact pairwise closure only on the REMAINDER.
    // Sound by the standard decomposition property: any mutual pair
    // routed through the peeled SCC would itself be mutual with it and
    // hence inside it. Verified identical to the full-closure replay at
    // sf0.001/sf0.01; sf0.1 drops 30 min → ~7 s.
    "g23_scc" ->
      """WITH RECURSIVE flow AS (
        |  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
        |    SELECT l_partkey,
        |      lead(l_partkey) OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_partkey) AS nxt
        |    FROM lineitem)
        |  WHERE nxt IS NOT NULL AND l_partkey <> nxt),
        |verts AS (SELECT DISTINCT src AS id FROM
        |  (SELECT src FROM flow UNION ALL SELECT dst FROM flow)),
        |mv AS (SELECT min(id) AS m FROM verts),
        |rf(id) AS (SELECT m FROM mv
        |  UNION SELECT f.dst FROM rf JOIN flow f ON f.src = rf.id),
        |rb(id) AS (SELECT m FROM mv
        |  UNION SELECT f.src FROM rb JOIN flow f ON f.dst = rb.id),
        |s0 AS (SELECT id FROM rf WHERE id IN (SELECT id FROM rb)),
        |rest AS (SELECT id FROM verts
        |         WHERE id NOT IN (SELECT id FROM s0)),
        |fr AS (SELECT f.src, f.dst FROM flow f
        |       JOIN rest a ON a.id = f.src JOIN rest b ON b.id = f.dst),
        |r AS (SELECT src AS a, dst AS b FROM fr
        |      UNION SELECT r.a, f.dst FROM r JOIN fr f ON f.src = r.b),
        |mut AS (SELECT x.a AS id, x.b AS p
        |        FROM r x JOIN r y ON y.a = x.b AND y.b = x.a),
        |lab_rest AS (SELECT v.id,
        |    least(v.id, coalesce(min(m2.p), v.id)) AS scc_id
        |  FROM rest v LEFT JOIN mut m2 ON m2.id = v.id GROUP BY v.id)
        |SELECT id, CAST((SELECT min(id) FROM s0) AS BIGINT) AS scc_id
        |FROM s0
        |UNION ALL SELECT id, CAST(scc_id AS BIGINT) FROM lab_rest
        |ORDER BY id""".stripMargin,

    // Bow-tie replayed via the full closure on the same restricted
    // substrate: class membership is one EXISTS against the closure
    // from/to the giant component. NOTE the `lab` anchor for the class
    // scan — inside WITH RECURSIVE, DuckDB does NOT dedupe a plain
    // UNION in a non-recursive member, so `verts` carries duplicates
    // and only the GROUP BY in `lab` collapses them.
    "g35_bowtie" ->
      """WITH RECURSIVE ok AS (SELECT l_orderkey FROM lineitem
        |      GROUP BY 1 HAVING count(*) <= 2),
        |flow AS (
        |  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
        |    SELECT l_partkey,
        |      lead(l_partkey) OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_partkey) AS nxt
        |    FROM lineitem
        |    WHERE l_orderkey IN (SELECT l_orderkey FROM ok))
        |  WHERE nxt IS NOT NULL AND l_partkey <> nxt),
        |r AS (SELECT src AS a, dst AS b FROM flow
        |      UNION
        |      SELECT r.a, f.dst FROM r JOIN flow f ON f.src = r.b),
        |verts AS (SELECT src AS id FROM flow UNION SELECT dst FROM flow),
        |mut AS (SELECT x.a AS id, x.b AS p
        |        FROM r x JOIN r y ON y.a = x.b AND y.b = x.a),
        |lab AS (SELECT v.id, least(v.id, coalesce(min(m.p), v.id)) AS scc_id
        |        FROM verts v LEFT JOIN mut m ON m.id = v.id GROUP BY v.id),
        |giant AS (SELECT scc_id FROM (
        |  SELECT scc_id, count(*) AS c FROM lab GROUP BY 1
        |  ORDER BY c DESC, scc_id ASC LIMIT 1)),
        |core AS (SELECT id FROM lab
        |         WHERE scc_id = (SELECT scc_id FROM giant)),
        |reaches AS (SELECT DISTINCT x.a AS id FROM r x
        |            JOIN core c ON x.b = c.id),
        |reached AS (SELECT DISTINCT x.b AS id FROM r x
        |            JOIN core c ON x.a = c.id),
        |cls AS (SELECT v.id,
        |    CASE WHEN co.id IS NOT NULL THEN 'core'
        |         WHEN ri.id IS NOT NULL THEN 'in'
        |         WHEN ro.id IS NOT NULL THEN 'out'
        |         ELSE 'other' END AS cls
        |  FROM lab v
        |  LEFT JOIN core co ON co.id = v.id
        |  LEFT JOIN reaches ri ON ri.id = v.id
        |  LEFT JOIN reached ro ON ro.id = v.id)
        |SELECT cls, count(*) AS n_vertices
        |FROM cls GROUP BY 1 ORDER BY 1""".stripMargin,

    // Condensation = the same SCC label replay on the ≤2-lineitem
    // restriction, then every cross-label flow edge quotiented onto
    // (src_scc, dst_scc) with multiplicity.
    "g34_condensation" ->
      """WITH RECURSIVE ok AS (SELECT l_orderkey FROM lineitem
        |      GROUP BY 1 HAVING count(*) <= 2),
        |flow AS (
        |  SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
        |    SELECT l_partkey,
        |      lead(l_partkey) OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_partkey) AS nxt
        |    FROM lineitem
        |    WHERE l_orderkey IN (SELECT l_orderkey FROM ok))
        |  WHERE nxt IS NOT NULL AND l_partkey <> nxt),
        |r AS (SELECT src AS a, dst AS b FROM flow
        |      UNION
        |      SELECT r.a, f.dst FROM r JOIN flow f ON f.src = r.b),
        |verts AS (SELECT src AS id FROM flow UNION SELECT dst FROM flow),
        |mut AS (SELECT x.a AS id, x.b AS p
        |        FROM r x JOIN r y ON y.a = x.b AND y.b = x.a),
        |lab AS (SELECT v.id, least(v.id, coalesce(min(m.p), v.id)) AS scc_id
        |        FROM verts v LEFT JOIN mut m ON m.id = v.id GROUP BY v.id)
        |SELECT CAST(la.scc_id AS BIGINT) AS src_scc,
        |  CAST(lb.scc_id AS BIGINT) AS dst_scc, count(*) AS n_edges
        |FROM flow f JOIN lab la ON la.id = f.src
        |JOIN lab lb ON lb.id = f.dst
        |WHERE la.scc_id <> lb.scc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g04_reachability" ->
      s"""WITH RECURSIVE $copartCte,
        |seed AS (SELECT min(src) AS s FROM e),
        |r(id, d) AS (
        |  SELECT s, 0 FROM seed
        |  UNION ALL
        |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id WHERE r.d < 3)
        |SELECT DISTINCT id AS p_partkey FROM r ORDER BY p_partkey""".stripMargin,

    "g05_bfs_depth" ->
      s"""WITH RECURSIVE $copartCte,
        |seed AS (SELECT min(src) AS s FROM e),
        |r(id, d) AS (
        |  SELECT s, 0 FROM seed
        |  UNION
        |  SELECT e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id WHERE r.d < 4)
        |SELECT id AS p_partkey, CAST(min(d) AS INT) AS dist FROM r
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g17_bfs_profile" ->
      s"""WITH RECURSIVE $copartCte,
        |seeds AS (SELECT DISTINCT src AS s FROM e ORDER BY s LIMIT 3),
        |r(seed, id, d) AS (
        |  SELECT s, s, 0 FROM seeds
        |  UNION
        |  SELECT r.seed, e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.d < 3),
        |md AS (SELECT seed, id, min(d) AS dist FROM r GROUP BY 1, 2)
        |SELECT seed, CAST(dist AS INT) AS dist, count(*) AS n
        |FROM md GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g19_closeness" ->
      s"""WITH RECURSIVE $copartCte,
        |seeds AS (SELECT DISTINCT src AS s FROM e ORDER BY s LIMIT 3),
        |r(seed, id, d) AS (
        |  SELECT s, s, 0 FROM seeds
        |  UNION
        |  SELECT r.seed, e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.d < 6),
        |md AS (SELECT seed, id, min(d) AS dist FROM r GROUP BY 1, 2)
        |SELECT seed, count(*) - 1 AS n_reached,
        |  CAST(sum(dist) AS BIGINT) AS total_dist
        |FROM md GROUP BY 1 ORDER BY 1""".stripMargin,

    "g31_harmonic" ->
      s"""WITH RECURSIVE $copartCte,
        |seeds AS (SELECT DISTINCT src AS s FROM e ORDER BY s LIMIT 3),
        |r(seed, id, d) AS (
        |  SELECT s, s, 0 FROM seeds
        |  UNION
        |  SELECT r.seed, e.dst, r.d + 1 FROM r JOIN e ON e.src = r.id
        |  WHERE r.d < 6),
        |md AS (SELECT seed, id, min(d) AS dist FROM r GROUP BY 1, 2)
        |SELECT seed, count(*) AS n_reached,
        |  CAST(sum(60 // dist) AS BIGINT) AS harmonic_x60
        |FROM md WHERE dist > 0 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Truncated Katz replayed by the same unrolled sparse matvec: walk
    // counts are exact integers, so the attenuated sum is hash-exact.
    "g32_katz" ->
      s"""WITH $copartCte,
        |c1 AS (SELECT dst AS id, count(*) AS c FROM e GROUP BY 1),
        |c2 AS (SELECT e.dst AS id, sum(c1.c) AS c FROM e
        |       JOIN c1 ON c1.id = e.src GROUP BY 1),
        |c3 AS (SELECT e.dst AS id, sum(c2.c) AS c FROM e
        |       JOIN c2 ON c2.id = e.src GROUP BY 1)
        |SELECT CAST(c1.id AS BIGINT) AS part_id,
        |  CAST(c1.c AS BIGINT) AS w1, CAST(c2.c AS BIGINT) AS w2,
        |  CAST(c3.c AS BIGINT) AS w3,
        |  CAST(16 * c1.c + 4 * c2.c + c3.c AS BIGINT) AS katz_x64
        |FROM c1 JOIN c2 ON c2.id = c1.id JOIN c3 ON c3.id = c1.id
        |ORDER BY katz_x64 DESC, part_id LIMIT 100""".stripMargin,

    // Rich-club replayed from the same degree histograms; thresholds k
    // range over the distinct degree values.
    "g33_rich_club" ->
      s"""WITH $copartCte,
        |deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1),
        |em AS (SELECT least(da.d, db.d) AS m FROM e
        |       JOIN deg da ON da.id = e.src
        |       JOIN deg db ON db.id = e.dst),
        |nh AS (SELECT d, count(*) AS nodes FROM deg GROUP BY 1),
        |eh AS (SELECT m, count(*) AS dedges FROM em GROUP BY 1),
        |nk AS (SELECT k.d AS k, sum(nh.nodes) AS n_k
        |       FROM (SELECT d FROM nh) k JOIN nh ON nh.d > k.d GROUP BY 1),
        |ek AS (SELECT k.d AS k, sum(eh.dedges) // 2 AS e_k
        |       FROM (SELECT d FROM nh) k JOIN eh ON eh.m > k.d GROUP BY 1)
        |SELECT CAST(nk.k AS BIGINT) AS k, CAST(nk.n_k AS BIGINT) AS n_k,
        |  CAST(coalesce(ek.e_k, 0) AS BIGINT) AS e_k,
        |  CAST(1000000 * 2 * coalesce(ek.e_k, 0)
        |       // (nk.n_k * (nk.n_k - 1)) AS BIGINT) AS phi_e6
        |FROM nk LEFT JOIN ek ON ek.k = nk.k
        |WHERE nk.n_k >= 2 ORDER BY k""".stripMargin,

    // Shortest-path counts replayed by WALK ENUMERATION: every walk of
    // length <= 3 from the seed, then (a) a walk whose length equals its
    // endpoint's min walk-length is exactly a simple shortest path, and
    // (b) sigma(t, v) = the number of such paths to t carrying v as an
    // interior node — identical to the engine's paths_s(v) × paths_t(v)
    // product by the standard path-composition identity.
    "g20_path_counts" ->
      s"""WITH RECURSIVE $copartCte,
        |seed AS (SELECT min(src) AS s FROM e),
        |walk(id, d, path) AS (
        |  SELECT s, 0, [s] FROM seed
        |  UNION ALL
        |  SELECT e.dst, w.d + 1, list_append(w.path, e.dst)
        |  FROM walk w JOIN e ON e.src = w.id WHERE w.d < 3),
        |md AS (SELECT id, min(d) AS dist FROM walk GROUP BY id),
        |targets AS (SELECT id FROM md WHERE dist = 3 ORDER BY id LIMIT 3),
        |sp AS (SELECT w.id AS t_id, w.path FROM walk w
        |       JOIN targets t ON t.id = w.id WHERE w.d = 3),
        |interior AS (SELECT t_id, unnest(path[2:3]) AS v_id FROM sp)
        |SELECT CAST(t_id AS BIGINT) AS t_id, CAST(v_id AS BIGINT) AS v_id,
        |  CAST(count(*) AS BIGINT) AS sigma
        |FROM interior GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g29_reciprocity" ->
      """WITH flow AS (SELECT DISTINCT l_partkey AS src, nxt AS dst FROM (
        |    SELECT l_partkey,
        |      lead(l_partkey) OVER (PARTITION BY l_orderkey
        |                            ORDER BY l_linenumber, l_partkey) AS nxt
        |    FROM lineitem)
        |  WHERE nxt IS NOT NULL AND l_partkey <> nxt)
        |SELECT (SELECT count(*) FROM flow) AS n_edges,
        |  (SELECT count(*) FROM flow f
        |   WHERE EXISTS (SELECT 1 FROM flow r
        |                 WHERE r.src = f.dst AND r.dst = f.src))
        |    AS n_reciprocal""".stripMargin,

    "g28_assortativity" ->
      s"""WITH $copartCte,
        |deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1)
        |SELECT count(*) AS m,
        |  CAST(sum(dx.d * dy.d) AS BIGINT) AS sum_xy,
        |  CAST(sum(dx.d) AS BIGINT) AS sum_x,
        |  CAST(sum(dy.d) AS BIGINT) AS sum_y,
        |  CAST(sum(dx.d * dx.d) AS BIGINT) AS sum_x2,
        |  CAST(sum(dy.d * dy.d) AS BIGINT) AS sum_y2
        |FROM e JOIN deg dx ON e.src = dx.id
        |       JOIN deg dy ON e.dst = dy.id""".stripMargin,

    "g27_clustering_coeff" ->
      s"""WITH $copartCte,
        |tri AS (SELECT ab.x AS a, ab.y AS b, bc.y AS c
        |  FROM pairs ab
        |  JOIN pairs bc ON ab.y = bc.x
        |  JOIN pairs ac ON ac.x = ab.x AND ac.y = bc.y),
        |tv AS (SELECT id, count(*) AS n_triangles FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1),
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1)
        |SELECT deg.id, coalesce(tv.n_triangles, 0) AS n_triangles,
        |  CAST(deg * (deg - 1) // 2 AS BIGINT) AS n_wedges,
        |  CAST(1000000 * coalesce(tv.n_triangles, 0)
        |       // (deg * (deg - 1) // 2) AS BIGINT) AS coeff_e6
        |FROM deg LEFT JOIN tv ON deg.id = tv.id
        |WHERE deg >= 2 ORDER BY deg.id""".stripMargin,

    "g25_link_prediction" ->
      s"""WITH $copartCte,
        |deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1),
        |w AS (SELECT e1.dst AS a, e2.dst AS b, e1.src AS z
        |      FROM e e1 JOIN e e2
        |        ON e1.src = e2.src AND e1.dst < e2.dst),
        |sc AS (SELECT w.a, w.b, count(*) AS cn,
        |         CAST(sum(1000000000 // deg.d) AS BIGINT) AS ra_e9
        |       FROM w JOIN deg ON w.z = deg.id GROUP BY 1, 2)
        |SELECT a AS x, b AS y, cn, ra_e9 FROM sc
        |WHERE NOT EXISTS (SELECT 1 FROM pairs p
        |                  WHERE p.x = sc.a AND p.y = sc.b)
        |ORDER BY cn DESC, ra_e9 DESC, x, y LIMIT 50""".stripMargin,

    "g30_jaccard_similarity" ->
      s"""WITH $copartCte,
        |deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1),
        |cn AS (SELECT e1.dst AS a, e2.dst AS b, count(*) AS cn
        |       FROM e e1 JOIN e e2
        |         ON e1.src = e2.src AND e1.dst < e2.dst
        |       GROUP BY 1, 2)
        |SELECT a AS x, b AS y, cn,
        |  dx.d + dy.d - cn AS un,
        |  1000000 * cn // (dx.d + dy.d - cn) AS jac_e6
        |FROM cn JOIN deg dx ON dx.id = cn.a
        |        JOIN deg dy ON dy.id = cn.b
        |ORDER BY jac_e6 DESC, cn DESC, x, y LIMIT 100""".stripMargin,

    // 2-round unrolled 3-truss replay: per round, canonical triangles
    // (a<b<c) from the surviving pairs, each voting support into its 3
    // edges; edges with support >= 1 survive. Mirrors the engine's
    // recompute-per-round semantics exactly.
    "g22_ktruss" -> {
      def round(in: String, i: Int): String =
        s"""t$i AS (SELECT ab.x AS a, ab.y AS b, ac.y AS c
          |  FROM $in ab JOIN $in ac ON ac.x = ab.x AND ab.y < ac.y
          |              JOIN $in bc ON bc.x = ab.y AND bc.y = ac.y),
          |s$i AS (SELECT x, y, count(*) AS sup FROM (
          |    SELECT a AS x, b AS y FROM t$i
          |    UNION ALL SELECT a, c FROM t$i
          |    UNION ALL SELECT b, c FROM t$i) GROUP BY 1, 2),
          |p$i AS (SELECT p.x, p.y FROM $in p
          |        JOIN s$i s ON s.x = p.x AND s.y = p.y
          |        WHERE s.sup >= 1)""".stripMargin
      s"""WITH $copartCte,
        |${round("pairs", 1)},
        |${round("p1", 2)}
        |SELECT x, y FROM p2 ORDER BY x, y""".stripMargin
    },

    // Restricted-betweenness numerators replayed by walk enumeration —
    // g20's oracle extended with the per-target scale Π_{j≠t} σ_j
    // (product of the OTHER two σ values, each ≤ ~2^26 so the two-way
    // product is exactly representable before the BIGINT cast) and a
    // final per-vertex sum over targets.
    "g21b_restricted_betweenness" ->
      s"""WITH RECURSIVE $copartCte,
        |seed AS (SELECT min(src) AS s FROM e),
        |walk(id, d, path) AS (
        |  SELECT s, 0, [s] FROM seed
        |  UNION ALL
        |  SELECT e.dst, w.d + 1, list_append(w.path, e.dst)
        |  FROM walk w JOIN e ON e.src = w.id WHERE w.d < 3),
        |md AS (SELECT id, min(d) AS dist FROM walk GROUP BY id),
        |targets AS (SELECT id FROM md WHERE dist = 3 ORDER BY id LIMIT 3),
        |sp AS (SELECT w.id AS t_id, w.path FROM walk w
        |       JOIN targets t ON t.id = w.id WHERE w.d = 3),
        |sig AS (SELECT t_id, count(*) AS s_st FROM sp GROUP BY 1),
        |scales AS (SELECT a.t_id,
        |    CAST(round(product(b.s_st)) AS BIGINT) AS scale
        |  FROM sig a JOIN sig b ON b.t_id <> a.t_id GROUP BY a.t_id),
        |interior AS (SELECT t_id, unnest(path[2:3]) AS v_id FROM sp),
        |contrib AS (SELECT t_id, v_id, count(*) AS sigma
        |            FROM interior GROUP BY 1, 2)
        |SELECT CAST(c.v_id AS BIGINT) AS v_id,
        |  CAST(sum(c.sigma * s.scale) AS BIGINT) AS btw_scaled
        |FROM contrib c JOIN scales s ON s.t_id = c.t_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // g21b's enumeration replay with path EDGES unnested instead of
    // interior vertices: each length-3 path contributes its 3 arcs.
    "g38_edge_betweenness" ->
      s"""WITH RECURSIVE $copartCte,
        |seed AS (SELECT min(src) AS s FROM e),
        |walk(id, d, path) AS (
        |  SELECT s, 0, [s] FROM seed
        |  UNION ALL
        |  SELECT e.dst, w.d + 1, list_append(w.path, e.dst)
        |  FROM walk w JOIN e ON e.src = w.id WHERE w.d < 3),
        |md AS (SELECT id, min(d) AS dist FROM walk GROUP BY id),
        |targets AS (SELECT id FROM md WHERE dist = 3 ORDER BY id LIMIT 3),
        |sp AS (SELECT w.id AS t_id, w.path FROM walk w
        |       JOIN targets t ON t.id = w.id WHERE w.d = 3),
        |sig AS (SELECT t_id, count(*) AS s_st FROM sp GROUP BY 1),
        |scales AS (SELECT a.t_id,
        |    CAST(round(product(b.s_st)) AS BIGINT) AS scale
        |  FROM sig a JOIN sig b ON b.t_id <> a.t_id GROUP BY a.t_id),
        |pedges AS (
        |  SELECT t_id, path[1] AS u, path[2] AS v FROM sp
        |  UNION ALL SELECT t_id, path[2] AS u, path[3] AS v FROM sp
        |  UNION ALL SELECT t_id, path[3] AS u, path[4] AS v FROM sp),
        |contrib AS (SELECT t_id, u, v, count(*) AS sigma
        |            FROM pedges GROUP BY 1, 2, 3)
        |SELECT CAST(c.u AS BIGINT) AS src, CAST(c.v AS BIGINT) AS dst,
        |  CAST(sum(c.sigma * s.scale) AS BIGINT) AS btw_scaled
        |FROM contrib c JOIN scales s ON s.t_id = c.t_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Exact replay of the seeded hash walks: ranked adjacency (one
    // window), then one unrolled pick+advance join per step, with the
    // SAME engine-portable pick hash (Det.md5Long / Det.duckMd5Long) —
    // the walk "randomness" is md5, which both engines compute
    // identically, so the walk paths hash-match row for row.
    "g16_hash_walks" -> {
      def step(i: Int): String = {
        val pick = graft.Det.duckMd5Long(
          s"concat_ws(':', CAST(t.walk_id AS VARCHAR), '$i', " +
            "CAST(t.vertex AS VARCHAR))")
        s"""s$i AS (SELECT p.walk_id, p.seed, p.dst AS vertex
          |  FROM (SELECT t.walk_id, t.seed, t.vertex, r.dst
          |        FROM (SELECT t.walk_id, t.seed, t.vertex,
          |                $pick % d.deg AS pick
          |              FROM s${i - 1} t JOIN degs d ON d.src = t.vertex) t
          |        JOIN ranked r ON r.src = t.vertex AND r.rnk = t.pick) p)"""
          .stripMargin
      }
      s"""WITH edges AS (
        |  SELECT o_custkey AS src, o_orderkey + 1000000000000 AS dst
        |  FROM orders
        |  UNION ALL
        |  SELECT l_orderkey + 1000000000000, l_partkey + 2000000000000
        |  FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |  UNION ALL
        |  SELECT l_orderkey + 1000000000000, l_suppkey + 3000000000000
        |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
        |  UNION ALL
        |  SELECT l_suppkey + 3000000000000, l_partkey + 2000000000000
        |  FROM (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem)),
        |ranked AS (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS rnk
        |  FROM (SELECT DISTINCT src, dst FROM edges)),
        |degs AS (SELECT src, count(*) AS deg FROM ranked GROUP BY src),
        |s0 AS (SELECT seed * 2 + w AS walk_id, seed, seed AS vertex
        |       FROM (SELECT unnest(range(1, 6)) AS seed),
        |            (SELECT unnest(range(0, 2)) AS w)),
        |${step(1)},
        |${step(2)},
        |${step(3)}
        |SELECT walk_id, seed, step, vertex FROM (
        |  SELECT walk_id, seed, 0 AS step, vertex FROM s0
        |  UNION ALL SELECT walk_id, seed, 1, vertex FROM s1
        |  UNION ALL SELECT walk_id, seed, 2, vertex FROM s2
        |  UNION ALL SELECT walk_id, seed, 3, vertex FROM s3)
        |ORDER BY walk_id, step""".stripMargin
    },

    "g05b_weighted_dist" ->
      s"""WITH RECURSIVE $copartCte,
        |we AS (SELECT src, dst, (src*31 + dst) % 97 + 1 AS w FROM e),
        |seed AS (SELECT min(src) AS s FROM e),
        |r(id, d, hops) AS (
        |  SELECT s, CAST(0 AS BIGINT), 0 FROM seed
        |  UNION
        |  SELECT we.dst, r.d + we.w, r.hops + 1 FROM r
        |  JOIN we ON we.src = r.id WHERE r.hops < 4)
        |SELECT id AS p_partkey, min(d) AS dist FROM r
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g06_connected_components" ->
      s"""WITH RECURSIVE $copartCte,
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |walk(id, lbl) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.id)
        |SELECT id AS p_partkey, min(lbl) AS component FROM walk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // Resilience replay: one recursive-walk CC per k over the
    // hub-filtered edge list; hubs ranked (degree desc, id).
    "g36_resilience" ->
      s"""WITH RECURSIVE $copartCte,
        |deg AS (SELECT src AS id, count(*) AS d FROM e GROUP BY 1),
        |rk AS (SELECT id, row_number() OVER (ORDER BY d DESC, id) AS r
        |       FROM deg),
        |e5 AS (SELECT e.src, e.dst FROM e
        |       JOIN rk a ON a.id = e.src JOIN rk b ON b.id = e.dst
        |       WHERE a.r > 5 AND b.r > 5),
        |e20 AS (SELECT e.src, e.dst FROM e
        |       JOIN rk a ON a.id = e.src JOIN rk b ON b.id = e.dst
        |       WHERE a.r > 20 AND b.r > 20),
        |n0 AS (SELECT DISTINCT src AS id FROM e),
        |w0(id, lbl) AS (SELECT id, id FROM n0
        |  UNION SELECT e.dst, w0.lbl FROM w0 JOIN e ON e.src = w0.id),
        |c0 AS (SELECT id, min(lbl) AS comp FROM w0 GROUP BY 1),
        |n5 AS (SELECT DISTINCT src AS id FROM e5),
        |w5(id, lbl) AS (SELECT id, id FROM n5
        |  UNION SELECT e5.dst, w5.lbl FROM w5 JOIN e5 ON e5.src = w5.id),
        |c5 AS (SELECT id, min(lbl) AS comp FROM w5 GROUP BY 1),
        |n20 AS (SELECT DISTINCT src AS id FROM e20),
        |w20(id, lbl) AS (SELECT id, id FROM n20
        |  UNION SELECT e20.dst, w20.lbl FROM w20 JOIN e20 ON e20.src = w20.id),
        |c20 AS (SELECT id, min(lbl) AS comp FROM w20 GROUP BY 1)
        |SELECT * FROM (
        |  SELECT 0 AS k, count(*) AS n_live,
        |    count(DISTINCT comp) AS n_components,
        |    CAST(max(sz) AS BIGINT) AS giant_size
        |  FROM (SELECT comp, count(*) OVER (PARTITION BY comp) AS sz
        |        FROM c0)
        |  UNION ALL
        |  SELECT 5, count(*), count(DISTINCT comp), CAST(max(sz) AS BIGINT)
        |  FROM (SELECT comp, count(*) OVER (PARTITION BY comp) AS sz
        |        FROM c5)
        |  UNION ALL
        |  SELECT 20, count(*), count(DISTINCT comp), CAST(max(sz) AS BIGINT)
        |  FROM (SELECT comp, count(*) OVER (PARTITION BY comp) AS sz
        |        FROM c20))
        |ORDER BY k""".stripMargin,

    // Critical-path replay: descendant walk carrying the additive path
    // cost, max per start — the path-enumeration form the engine's
    // bottom-up max-DP avoids.
    "g41_critical_path" ->
      """WITH RECURSIVE p AS (SELECT CAST(p_partkey AS BIGINT) AS id,
        |    CAST(p_partkey % 7 + 1 AS BIGINT) AS cost FROM part),
        |walk(start, node, acc) AS (
        |  SELECT id, id, cost FROM p
        |  UNION ALL
        |  SELECT w.start, c.id, w.acc + c.cost
        |  FROM walk w JOIN p c ON c.id // 2 = w.node AND c.id >= 2)
        |SELECT start AS id, CAST(max(acc) AS BIGINT) AS crit
        |FROM walk GROUP BY 1 ORDER BY id""".stripMargin,

    // BOM replay: full root×descendant path enumeration with the
    // multiplicative unit product carried on the walk — the quadratic
    // form the engine's bottom-up level DP avoids.
    "g39_bom_explosion" ->
      """WITH RECURSIVE p AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS id FROM part),
        |e AS (SELECT id AS child, id // 2 AS parent,
        |    CAST(id % 3 + 1 AS BIGINT) AS qty
        |  FROM p WHERE id >= 2 AND id // 2 IN (SELECT id FROM p)),
        |walk(root, node, units) AS (
        |  SELECT e.parent, e.child, e.qty FROM e
        |  UNION ALL
        |  SELECT w.root, e.child, w.units * e.qty
        |  FROM walk w JOIN e ON e.parent = w.node),
        |agg AS (SELECT root, count(*) AS n_desc, sum(units) AS units
        |        FROM walk GROUP BY 1)
        |SELECT p.id, CAST(coalesce(a.n_desc, 0) AS BIGINT) AS n_desc,
        |  CAST(coalesce(a.units, 0) AS BIGINT) AS units
        |FROM p LEFT JOIN agg a ON a.root = p.id
        |ORDER BY p.id""".stripMargin,

    // Co-purchase projection replay: bounded-basket pair counts, the
    // weight-2 threshold, then the standard recursive-walk CC.
    "g37_copurchase" ->
      """WITH RECURSIVE li AS (
        |  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM li GROUP BY 1
        |       HAVING count(*) BETWEEN 2 AND 8),
        |pr AS (SELECT a.l_partkey AS x, b.l_partkey AS y
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_partkey < b.l_partkey
        |  JOIN ok ON ok.l_orderkey = a.l_orderkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT x AS src, y AS dst FROM pr
        |      UNION ALL SELECT y AS src, x AS dst FROM pr),
        |n AS (SELECT DISTINCT src AS id FROM e),
        |walk(id, lbl) AS (SELECT id, id FROM n
        |  UNION SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.id),
        |c AS (SELECT id, min(lbl) AS component FROM walk GROUP BY 1)
        |SELECT component, CAST(count(*) AS BIGINT) AS n_parts
        |FROM c GROUP BY 1 ORDER BY n_parts DESC, component""".stripMargin,

    "g13_label_propagation" ->
      s"""WITH $copartCte,
        |$lpCte
        |SELECT id, label FROM l3 ORDER BY id""".stripMargin,

    // g26: modularity of the SAME 3-round LP replay — degree agg, edge
    // count, per-community e_in/deg_sum, integer numerator.
    "g26_modularity" ->
      s"""WITH $copartCte,
        |$lpCte,
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY 1),
        |mm AS (SELECT count(*) AS m FROM pairs),
        |comm AS (SELECT l.label, count(*) AS n_vertices,
        |    CAST(sum(d.deg) AS BIGINT) AS deg_sum
        |  FROM l3 l JOIN deg d ON l.id = d.id GROUP BY 1),
        |ein AS (SELECT lx.label, count(*) AS e_in
        |  FROM pairs p JOIN l3 lx ON p.x = lx.id
        |               JOIN l3 ly ON p.y = ly.id
        |  WHERE lx.label = ly.label GROUP BY 1)
        |SELECT comm.label AS community, comm.n_vertices,
        |  coalesce(ein.e_in, 0) AS e_in, comm.deg_sum,
        |  CAST(4 * mm.m * coalesce(ein.e_in, 0)
        |       - comm.deg_sum * comm.deg_sum AS BIGINT) AS q_num
        |FROM comm LEFT JOIN ein ON comm.label = ein.label CROSS JOIN mm
        |ORDER BY community""".stripMargin,

    "g14_kcore" ->
      s"""WITH $copartCte,
        |k1 AS (SELECT src AS id FROM e GROUP BY 1 HAVING count(*) >= 2),
        |e1 AS (SELECT e.src, e.dst FROM e
        |       JOIN k1 a ON e.src = a.id JOIN k1 b ON e.dst = b.id),
        |k2 AS (SELECT src AS id FROM e1 GROUP BY 1 HAVING count(*) >= 2),
        |e2 AS (SELECT e1.src, e1.dst FROM e1
        |       JOIN k2 a ON e1.src = a.id JOIN k2 b ON e1.dst = b.id),
        |k3 AS (SELECT src AS id FROM e2 GROUP BY 1 HAVING count(*) >= 2),
        |e3 AS (SELECT e2.src, e2.dst FROM e2
        |       JOIN k3 a ON e2.src = a.id JOIN k3 b ON e2.dst = b.id)
        |SELECT src AS id, count(*) AS deg FROM e3
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "g07_triangles" ->
      s"""WITH RECURSIVE $copartCte
        |SELECT count(*) AS n_triangles
        |FROM pairs ab
        |JOIN pairs bc ON ab.y = bc.x
        |JOIN pairs ac ON ac.x = ab.x AND ac.y = bc.y""".stripMargin,

    "g09_motif" ->
      """SELECT DISTINCT c_custkey, o_orderkey, p_partkey
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) li
        |  ON o_orderkey = li.l_orderkey
        |JOIN part ON li.l_partkey = p_partkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderpriority = '1-URGENT'
        |  AND p_size > 40
        |ORDER BY c_custkey, o_orderkey, p_partkey""".stripMargin,

    // same motif, so the same oracle as g09
    "g09b_motif_find" ->
      """SELECT DISTINCT c_custkey, o_orderkey, p_partkey
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) li
        |  ON o_orderkey = li.l_orderkey
        |JOIN part ON li.l_partkey = p_partkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderpriority = '1-URGENT'
        |  AND p_size > 40
        |ORDER BY c_custkey, o_orderkey, p_partkey""".stripMargin,

    "g11_snapshot_khop" ->
      """WITH op AS (SELECT l_orderkey, l_partkey FROM lineitem
        |    GROUP BY 1, 2 HAVING min(l_shipdate) <= TIMESTAMP '1997-07-01'),
        |  os AS (SELECT l_orderkey, l_suppkey FROM lineitem
        |    GROUP BY 1, 2 HAVING min(l_shipdate) <= TIMESTAMP '1997-07-01'),
        |  sp AS (SELECT l_suppkey, l_partkey FROM lineitem
        |    GROUP BY 1, 2 HAVING min(l_shipdate) <= TIMESTAMP '1997-07-01'),
        |  o1 AS (SELECT o_orderkey FROM orders
        |    WHERE o_custkey = 1 AND o_orderdate <= TIMESTAMP '1997-07-01'),
        |  p2 AS (SELECT DISTINCT l_partkey FROM op
        |         WHERE l_orderkey IN (SELECT o_orderkey FROM o1)),
        |  s2 AS (SELECT DISTINCT l_suppkey FROM os
        |         WHERE l_orderkey IN (SELECT o_orderkey FROM o1)),
        |  p3 AS (SELECT DISTINCT l_partkey FROM sp
        |         WHERE l_suppkey IN (SELECT l_suppkey FROM s2))
        |SELECT DISTINCT l_partkey AS p_partkey FROM
        |  (SELECT l_partkey FROM p2 UNION ALL SELECT l_partkey FROM p3)
        |ORDER BY p_partkey""".stripMargin,

    "g12_graph_evolution" ->
      """WITH pts(t) AS (VALUES (TIMESTAMP '1996-01-01'),
        |    (TIMESTAMP '1997-01-01'), (TIMESTAMP '1998-01-01'),
        |    (TIMESTAMP '1999-01-01')),
        |  te AS (
        |    SELECT 'cust_order' AS etype, o_orderdate AS valid_from FROM orders
        |    UNION ALL SELECT 'order_part', valid_from FROM
        |      (SELECT min(l_shipdate) AS valid_from FROM lineitem
        |       GROUP BY l_orderkey, l_partkey)
        |    UNION ALL SELECT 'order_supp', valid_from FROM
        |      (SELECT min(l_shipdate) AS valid_from FROM lineitem
        |       GROUP BY l_orderkey, l_suppkey)
        |    UNION ALL SELECT 'supp_part', valid_from FROM
        |      (SELECT min(l_shipdate) AS valid_from FROM lineitem
        |       GROUP BY l_suppkey, l_partkey))
        |SELECT pts.t, te.etype, count(*) AS n_edges
        |FROM pts JOIN te ON te.valid_from <= pts.t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "g10_temporal_path" ->
      """WITH o AS (SELECT event_id, user_id, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |  s AS (SELECT user_id, rn FROM o
        |        WHERE event_id = (SELECT min(event_id) FROM events))
        |SELECT o.event_id, CAST(o.ts AS TIMESTAMP) AS arrival_ts
        |FROM o JOIN s ON o.user_id = s.user_id
        |WHERE o.rn >= s.rn AND o.rn <= s.rn + 8
        |ORDER BY o.event_id""".stripMargin,

    // Two-stage BFS replay: recursive walk states deduped by UNION
    // (states are (id, depth) pairs, so the recursion is V×depth
    // bounded, not path-enumeration), min depth per vertex, argmax
    // picks the peak, repeat from the peak.
    "g24_diameter_lb" ->
      s"""WITH RECURSIVE $copartCte,
        |s0 AS (SELECT min(src) AS v FROM e),
        |w1(id, d) AS (
        |  SELECT v, 0 FROM s0
        |  UNION
        |  SELECT e.dst, w1.d + 1 FROM w1 JOIN e ON e.src = w1.id
        |  WHERE w1.d < 12),
        |m1 AS (SELECT id, min(d) AS dist FROM w1 GROUP BY id),
        |p AS (SELECT id FROM m1 ORDER BY dist DESC, id ASC LIMIT 1),
        |w2(id, d) AS (
        |  SELECT id, 0 FROM p
        |  UNION
        |  SELECT e.dst, w2.d + 1 FROM w2 JOIN e ON e.src = w2.id
        |  WHERE w2.d < 12),
        |m2 AS (SELECT id, min(d) AS dist FROM w2 GROUP BY id)
        |SELECT (SELECT v FROM s0) AS seed, (SELECT id FROM p) AS peak,
        |  CAST(max(dist) AS BIGINT) AS ecc_lb
        |FROM m2""".stripMargin,

    // Chain replay: on the per-user session chain every reachable
    // event's latest departure equals its own ts (the out-edge's
    // availability); reachable = the target user's events within 8
    // chain hops upstream of the LAST event (max rn).
    "g10b_latest_departure" ->
      """WITH o AS (SELECT event_id, user_id, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |  su AS (SELECT user_id FROM o
        |         WHERE event_id = (SELECT min(event_id) FROM events)),
        |  c AS (SELECT o.* FROM o JOIN su ON o.user_id = su.user_id),
        |  tg AS (SELECT max(rn) AS rt FROM c)
        |SELECT c.event_id, CAST(c.ts AS TIMESTAMP) AS depart_ts
        |FROM c, tg WHERE c.rn >= tg.rt - 8
        |ORDER BY c.event_id""".stripMargin,

    // Chain replay: the only journey to the event k hops down the
    // seed's chain starts at the seed's own ts, so its duration is the
    // timestamp difference; 8-hop bound, seed itself excluded.
    "g10c_fastest_journey" ->
      """WITH o AS (SELECT event_id, user_id, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |  s AS (SELECT user_id, rn, ts FROM o
        |        WHERE event_id = (SELECT min(event_id) FROM events))
        |SELECT o.event_id,
        |  epoch_us(CAST(o.ts AS TIMESTAMP))
        |    - epoch_us(CAST(s.ts AS TIMESTAMP)) AS duration_us
        |FROM o JOIN s ON o.user_id = s.user_id
        |WHERE o.rn > s.rn AND o.rn <= s.rn + 8
        |ORDER BY o.event_id""".stripMargin
  )

  /** The SQL-door twins (g05c/g06b/g40f/g43b) reuse their Scala
    * siblings' oracles VERBATIM — the TVF must reproduce the exact same
    * result, so the same DuckDB replay is the gate. g08c is
    * tolerance-family like g08 (no hash oracle; GraphOpsSpec gates it
    * equal to the Scala sibling).
    */
  val oracles: Map[String, String] = oraclesBase ++ Map(
    "g45b_restless_sql" -> oraclesBase("g45_restless_arrival"),
    "g46b_walk_counts_sql" -> oraclesBase("g46_restless_walk_counts"),
    "g47b_visits_sql" -> oraclesBase("g47_restless_visits"),
    "g13b_lpa_sql" -> oraclesBase("g13_label_propagation"),
    "g23b_scc_sql" -> oraclesBase("g23_scc"),
    "g05c_bfs_sql" -> oraclesBase("g05_bfs_depth"),
    "g06b_cc_sql" -> oraclesBase("g06_connected_components"),
    "g40f_louvain_sql" -> oraclesBase("g40c_louvain_converged"),
    "g43b_coreness_sql" -> oraclesBase("g43_coreness"),
    "g10d_temporal_path_sql" -> oraclesBase("g10_temporal_path"),
    "g10e_latest_departure_sql" -> oraclesBase("g10b_latest_departure"),
    "g10f_fastest_journey_sql" -> oraclesBase("g10c_fastest_journey"),
    "g48b_betweenness_sql" -> oraclesBase("g48_temporal_betweenness"),
    "g17b_bfs_profile_sql" -> oraclesBase("g17_bfs_profile"),
    "g19b_closeness_sql" -> oraclesBase("g19_closeness"),
    "g31b_harmonic_sql" -> oraclesBase("g31_harmonic"),
    "g30b_jaccard_sql" -> oraclesBase("g30_jaccard_similarity"),
    "g25b_link_prediction_sql" -> oraclesBase("g25_link_prediction"),
    "g07b_triangles_sql" -> oraclesBase("g07_triangles"),
    "g14b_kcore_sql" -> oraclesBase("g14_kcore"),
    "g22b_ktruss_sql" -> oraclesBase("g22_ktruss"),
    "g32b_katz_sql" -> oraclesBase("g32_katz"),
    "g24b_ecc_sql" -> oraclesBase("g24_diameter_lb"),
    "g39b_bom_sql" -> oraclesBase("g39_bom_explosion"),
    "g41b_critical_path_sql" -> oraclesBase("g41_critical_path"),
    "g42b_coship_sql" -> oraclesBase("g42_temporal_coship"),
    "g49b_temporal_closeness_sql" -> oraclesBase("g49_temporal_closeness"),
    "g16b_hash_walks_sql" -> oraclesBase("g16_hash_walks"),
    "g26b_modularity_sql" -> oraclesBase("g26_modularity"),
    "g29b_reciprocity_sql" -> oraclesBase("g29_reciprocity"),
    "g33b_rich_club_sql" -> oraclesBase("g33_rich_club"),
    "g34b_condensation_sql" -> oraclesBase("g34_condensation"),
    "g35b_bowtie_sql" -> oraclesBase("g35_bowtie"),
    "g36b_resilience_sql" -> oraclesBase("g36_resilience"),
    "g37b_copurchase_sql" -> oraclesBase("g37_copurchase"),
    "g27b_clustering_sql" -> oraclesBase("g27_clustering_coeff"),
    "g28b_assortativity_sql" -> oraclesBase("g28_assortativity"))
}
