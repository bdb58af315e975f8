package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph layer (SURVEY.md §2.2): canonical derived graphs over the testdata
  * plus the graph algorithms over them, every one a DataFrame frontier
  * iteration inside Catalyst/Tungsten (no RDD conversion). The GraphX
  * twins of BFS, CC, (personalized) PageRank, the temporal paths and the
  * triangle count live in test scope (`graft.GraphXOracles`) as the
  * reference implementations the equivalence tests compare against.
  *
  * Heterogeneous vertex ids live in one Long space via type-tag offsets —
  * entity keys are < 10^9 in all testdata SFs, and a 100 TB graph with
  * 10^11 vertices still fits 4 tag ranges in a signed 64-bit space.
  */
object Graphs {
  val TAG: Long = 1000000000000L // 10^12 per entity type
  val CUST: Long = 0L * TAG
  val ORD: Long = 1L * TAG
  val PART: Long = 2L * TAG
  val SUPP: Long = 3L * TAG

  /** G_supply vertices: (id, vtype). */
  def supplyVertices(s: SparkSession, dir: String): DataFrame = {
    val t = (n: String) => graft.Tables.load(s, dir, n)
    t("customer").select((col("c_custkey") + CUST).as("id"),
        lit("customer").as("vtype"))
      .unionAll(t("orders").select((col("o_orderkey") + ORD).as("id"),
        lit("order").as("vtype")))
      .unionAll(t("part").select((col("p_partkey") + PART).as("id"),
        lit("part").as("vtype")))
      .unionAll(t("supplier").select((col("s_suppkey") + SUPP).as("id"),
        lit("supplier").as("vtype")))
  }

  /** G_supply edges: (src, dst, etype) — FIXTURES.md definitions.
    *
    * r20 (guide §2.4/§2.3): the three lineitem-derived edge types used to
    * pay three separate distinct-shuffles (three scans of lineitem, three
    * stages). One explode emits all three typed edges per row and ONE
    * distinct co-shuffles them — same edge SET (etype disambiguates, and
    * the three types live in disjoint (src, dst) offset spaces), one scan,
    * one shuffle. The type rides through the dedup as a 1-byte tag
    * (narrower types, §2.3) and is mapped back to the etype string after;
    * cust→order edges are one-per-order by construction and stay out of
    * the dedup entirely. Setup cost of every supplyEdges consumer
    * (g01, g02, the g08 family, g18, g16, ...) drops.
    */
  def supplyEdges(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val li = graft.Tables.load(s, dir, "lineitem")
    val liEdges = li.select(explode(array(
        struct((col("l_orderkey") + ORD).as("src"),
          (col("l_partkey") + PART).as("dst"),
          lit(1).cast("tinyint").as("t")),
        struct((col("l_orderkey") + ORD).as("src"),
          (col("l_suppkey") + SUPP).as("dst"),
          lit(2).cast("tinyint").as("t")),
        struct((col("l_suppkey") + SUPP).as("src"),
          (col("l_partkey") + PART).as("dst"),
          lit(3).cast("tinyint").as("t")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.t").as("t"))
      .distinct()
      .select(col("src"), col("dst"),
        when(col("t") === 1, lit("order_part"))
          .when(col("t") === 2, lit("order_supp"))
          .otherwise(lit("supp_part")).as("etype"))
    orders.select((col("o_custkey") + CUST).as("src"),
        (col("o_orderkey") + ORD).as("dst"), lit("cust_order").as("etype"))
      .unionAll(liEdges)
  }

  /** The supply edge union persisted ONCE per (session, sf dir) as a
    * bucketed managed table, bucketed+sorted on `src`: the union +
    * projection is paid at build time, every traversal after that reads
    * compact co-located buckets — and a literal seed filter (`src = x`)
    * prunes buckets and row groups at planning time. This is the same
    * materialized-index move as the bucketed as-of join and the LSH/IVF
    * indexes (SimIndex): at 100 TB the edge list is derived data you
    * build once, not per query.
    */
  def supplyEdgeTable(s: SparkSession, dir: String, buckets: Int = 32): DataFrame = {
    val name = "graft_edges_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    // reattach a previous process's build from its on-disk descriptor
    // before re-deriving: at 100 TB the edge union is hours of work a
    // session restart must not repeat
    if (!s.catalog.tableExists(name) && !Bucketing.reattach(s, name)) {
      Bucketing.dropStaleLocation(s, name)
      Bucketing.writeBucketed(supplyEdgesRaw(s, dir).select("src", "dst"),
        name, "src", buckets, sortCols = Seq("src", "dst"))
    }
    if (!s.catalog.isCached(name)) {
      // A graph engine keeps its adjacency structure resident; fill the
      // columnar cache EAGERLY (one sequenced scan) so later multi-scan
      // traversal actions read settled blocks instead of racing on a
      // lazy fill (the 2-10x swing documented on kHopIds' old cache).
      s.catalog.cacheTable(name)
      s.table(name).count()
    }
    s.table(name)
  }

  /** TEMPORAL G_supply edges: every edge carries its validity start —
    * `cust→order` exists from the order date; `order→part`, `order→supp`
    * and `supp→part` from the first shipment that realizes the relation
    * (min `l_shipdate` per key pair). `valid_to` is open (null): supply
    * relations in this dataset never end. A snapshot of the graph at
    * time t (api.TemporalPropertyGraph.at) therefore contains exactly
    * the edges whose start is <= t — the reference's snapshot-query
    * model applied to the graph itself rather than a property table.
    */
  def temporalSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val li = graft.Tables.load(s, dir, "lineitem")
    // r20: one grouped min-shipdate aggregation for all three
    // lineitem-derived edge types (was three groupBy shuffles — the same
    // single-pass move as [[supplyEdges]]; min per (src, dst, type) is
    // unchanged, exact timestamp arithmetic).
    val liEdges = li.select(col("l_shipdate"), explode(array(
        struct((col("l_orderkey") + ORD).as("src"),
          (col("l_partkey") + PART).as("dst"),
          lit(1).cast("tinyint").as("t")),
        struct((col("l_orderkey") + ORD).as("src"),
          (col("l_suppkey") + SUPP).as("dst"),
          lit(2).cast("tinyint").as("t")),
        struct((col("l_suppkey") + SUPP).as("src"),
          (col("l_partkey") + PART).as("dst"),
          lit(3).cast("tinyint").as("t")))).as("e"))
      .groupBy(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.t").as("t"))
      .agg(min(col("l_shipdate")).as("valid_from"))
      .select(col("src"), col("dst"),
        when(col("t") === 1, lit("order_part"))
          .when(col("t") === 2, lit("order_supp"))
          .otherwise(lit("supp_part")).as("etype"),
        col("valid_from"))
    orders.select((col("o_custkey") + CUST).as("src"),
        (col("o_orderkey") + ORD).as("dst"), lit("cust_order").as("etype"),
        col("o_orderdate").as("valid_from"))
      .unionAll(liEdges)
      .withColumn("valid_to", lit(null).cast("timestamp"))
  }

  /** G_supply edges WITHOUT per-type dedup — for traversals that dedupe
    * once at the end (reachability is insensitive to parallel edges), this
    * skips three distinct-shuffles over lineitem.
    */
  def supplyEdgesRaw(s: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.load(s, dir, "orders")
    val li = graft.Tables.load(s, dir, "lineitem")
    orders.select((col("o_custkey") + CUST).as("src"),
        (col("o_orderkey") + ORD).as("dst"))
      .unionAll(li.select((col("l_orderkey") + ORD).as("src"),
        (col("l_partkey") + PART).as("dst")))
      .unionAll(li.select((col("l_orderkey") + ORD).as("src"),
        (col("l_suppkey") + SUPP).as("dst")))
      .unionAll(li.select((col("l_suppkey") + SUPP).as("src"),
        (col("l_partkey") + PART).as("dst")))
  }

  /** Frontier row count above which the materializing traversals
    * ([[bfsDepthsDF]], [[weightedDistancesDF]]) stop broadcasting the
    * frontier and let the planner shuffle-join it instead. 4M ids × 8 B
    * ≈ 32 MB per executor — comfortably under a 100 TB cluster's
    * broadcast budget, large enough that depth-bounded traversals on
    * sparse graphs never hit it.
    */
  val FrontierBroadcastRows: Long = 4L * 1000 * 1000

  /** Distinct ids reachable in 1..k hops from the seed edges' endpoints.
    *
    * `seedPred` selects the hop-1 edges (a pushed-down filter — hop 1
    * never joins); hops 2..k join the edge list against the previous
    * hop's distinct frontier, broadcast (frontiers of a depth-bounded
    * expansion are small next to the edge list — the unbounded/adaptive
    * path is [[bfsDepthsDF]], which sizes each frontier and switches to a
    * shuffle join past [[FrontierBroadcastRows]]).
    *
    * ONE materialization job (the edge list — `localCheckpoint`, blocks
    * freed by the ContextCleaner), then the k unrolled hop joins pipeline
    * inside a single action. Each hop is a LEFT SEMI broadcast join
    * (edge side probes the broadcast frontier for membership): the semi
    * join emits each matching edge once regardless of frontier
    * duplicates, so the raw hop output can feed the next broadcast build
    * with NO distinct shuffle anywhere on the hop path — the builds are
    * pure pipelined scans of the checkpointed E. ReuseExchange dedupes
    * hop i's broadcast between its union branch and hop i+1's build, so
    * every hop is computed exactly once; dedup happens in ONE final
    * distinct. Total cost: k scans of the checkpointed E + one shuffle.
    * (r4's checkpoint-per-frontier variant paid five job barriers.)
    *
    * `materialize = false` skips the edge checkpoint — pass it when
    * `edges` is already materialized (a persisted/bucketed table like
    * [[supplyEdgeTable]], or a cached/checkpointed frame), so each hop
    * re-scans compact storage instead of paying an extra copy.
    */
  def kHopIds(edges: DataFrame, seedPred: Column, k: Int,
      materialize: Boolean = true): DataFrame = {
    val proj = edges.select(col("src"), col("dst"))
    val e = if (materialize) proj.transform(Checkpoints.cut) else proj
    unrolledHops(e, e.filter(seedPred), k)
  }

  /** [[kHopIds]] from an explicit seed VERTEX set (`id` column) instead of
    * a hop-1 edge predicate — same single-job pipelined unrolling; every
    * hop is a semi broadcast join against the checkpointed edge list.
    */
  def kHopIdsFrom(edges: DataFrame, seeds: DataFrame, k: Int): DataFrame = {
    val e = edges.select(col("src"), col("dst")).transform(Checkpoints.cut)
    unrolledHops(e, e.join(broadcast(seeds.select(col("id"))),
      col("src") === col("id"), "left_semi"), k)
  }

  /** The k unrolled hops of [[kHopIds]]/[[kHopIdsFrom]]: `hop1` is the
    * hop-1 slice of the edge list `e`; hops 2..k semi-join `e` against
    * the broadcast previous hop, and one final distinct dedups them all.
    */
  private def unrolledHops(e: DataFrame, hop1: DataFrame, k: Int)
      : DataFrame = {
    var hop = hop1.select(col("dst").as("id"))
    var acc = hop
    for (_ <- 2 to k) {
      hop = e.join(broadcast(hop), col("src") === col("id"), "left_semi")
        .select(col("dst").as("id"))
      acc = acc.unionAll(hop)
    }
    acc.distinct()
  }

  /** Restricted G_copart: undirected part-co-occurrence edges, only from
    * orders with <= 3 distinct parts (FIXTURES.md — the unrestricted graph
    * is one dense component). Returned as canonical pairs `x < y`.
    */
  def copartPairs(s: SparkSession, dir: String): DataFrame = {
    // One partial-aggregated shuffle (collect_set per order) + in-row pair
    // expansion with codegen HOFs, instead of the naive
    // countDistinct-filter + self-join (4 shuffles, two of them over the
    // full lineitem). The per-order set is bounded by order size, and the
    // <= 3 filter keeps the expansion at <= 3 pairs per order.
    val li = graft.Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey")
    li.groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")).between(2, 3))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .distinct()
  }

  /** WEIGHTED restricted G_copart: the same canonical `x < y` pairs,
    * with `w` = number of orders the pair co-occurs in (multiplicity
    * kept instead of the final distinct) — the natural edge-weight
    * column a co-occurrence graph carries.
    */
  def copartWeightedPairs(s: SparkSession, dir: String): DataFrame = {
    val li = graft.Tables.load(s, dir, "lineitem")
      .select("l_orderkey", "l_partkey")
    li.groupBy("l_orderkey")
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .filter(size(col("ps")).between(2, 3))
      .select(explode(flatten(transform(col("ps"), (x, i) =>
        transform(slice(col("ps"), i + lit(2), size(col("ps"))),
          y => struct(x.as("x"), y.as("y")))))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("w"))
  }

  /** Both directions of the restricted co-part graph. */
  def copartEdges(s: SparkSession, dir: String): DataFrame = {
    val p = copartPairs(s, dir)
    p.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(p.select(col("y").as("src"), col("x").as("dst")))
  }

  /** G_session: each event -> same user's next event by (ts, event_id);
    * edge carries (src ts, dst ts) in epoch micros — the availability time
    * and the arrival time of the hop.
    */
  def sessionEdges(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    graft.Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), graft.Det.epochUs(col("ts")).as("ts_us"))
      .withColumn("dst", lead(col("event_id"), 1).over(w))
      .withColumn("dst_ts_us", lead(col("ts_us"), 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("event_id").as("src"), col("dst"),
        col("ts_us").as("avail_us"), col("dst_ts_us").as("arrive_us"))
  }

  /** Bounded-depth BFS as pure DataFrame iteration — the Catalyst-native
    * twin of GraphX's Pregel BFS (GraphOpsSpec asserts they agree against
    * the test-scope `GraphXOracles.bfsDepths`). Per level:
    * one join of the checkpointed edge list against the broadcast
    * frontier + one anti join against the visited set, all inside
    * Tungsten — no RDD conversion, no GraphX vertex/edge replication.
    * The level loop is [[expandFrontier]]: frontiers up to
    * `broadcastRows` ([[FrontierBroadcastRows]]) ship as broadcasts,
    * larger ones shuffle-join (no executor-memory cliff when a hub level
    * explodes), and it early-exits when a level adds nothing.
    * Cost = depth × (one scan of E + one anti join on the visited set).
    * `maxDepth = Int.MaxValue` runs to the fix point (unbounded
    * reachability — the early exit terminates it after diameter+1
    * levels).
    */
  def bfsDepthsDF(s: SparkSession, edges: DataFrame, seed: Long,
      maxDepth: Int, broadcastRows: Long = FrontierBroadcastRows): DataFrame = {
    import s.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .transform(Checkpoints.cut)
    expandFrontier(Seq((seed, 0)).toDF("id", "dist"), Seq("id"), maxDepth,
        broadcastRows) { (probe, depth) =>
      e.join(probe, col("src") === col("id"))
        .select(col("dst").as("id")).distinct()
        .withColumn("dist", lit(depth))
    }
  }

  /** The visited-set frontier loop of the BFS-family kernels
    * ([[bfsDepthsDF]], [[multiSourceBfs]], [[pathCountBfs]],
    * [[restlessEarliestArrival]], [[restlessMinDepths]] and the taint
    * closure of `Streams.restlessApplyDelta`) — a Pregel superstep as one
    * frontier ⋈ edges dataflow whose join strategy follows the live
    * frontier's size.
    *
    * `visited0` is the seed state; it is cut with its row count observed
    * on the cut's own job ([[Checkpoints.cutCounted]]), and its rows are
    * the first frontier. Round r = 1..`maxRounds` runs while the last
    * frontier is non-empty: `step(probe, r)` expands the frontier —
    * broadcast when its observed size is at most `broadcastRows` — into
    * rows with visited's columns; the rows whose `keys` are not yet
    * visited are the next frontier (one observed cut), and a non-empty
    * frontier unions into `visited` (one more cut). Returns `visited`.
    */
  private[graft] def expandFrontier(visited0: DataFrame, keys: Seq[String],
      maxRounds: Int, broadcastRows: Long = FrontierBroadcastRows)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    var (visited, rows) = Checkpoints.cutCounted(visited0)
    var frontier = visited
    var round = 0
    while (round < maxRounds && rows > 0) {
      round += 1
      val probe = if (rows <= broadcastRows) broadcast(frontier) else frontier
      val (next, nextRows) = Checkpoints.cutCounted(step(probe, round)
        .join(visited.select(keys.map(col): _*), keys, "left_anti"))
      frontier = next
      rows = nextRows
      if (rows > 0)
        visited = visited.unionByName(frontier).transform(Checkpoints.cut)
    }
    visited
  }

  /** G24 — double-sweep eccentricity: BFS from a canonical seed, hop to
    * the farthest vertex found (ties to min id), BFS again — the second
    * sweep's eccentricity is the classic diameter LOWER BOUND (exact on
    * trees; in practice within a hop or two on most real graphs), at
    * the cost of exactly TWO traversals instead of the all-pairs sweep
    * an exact diameter needs. The standard first question asked of a
    * 100 TB graph ("how wide is this thing?") at the only price that's
    * payable there. Returns one row (seed, peak, ecc_lb).
    */
  def doubleSweepEcc(s: SparkSession, edges: DataFrame,
      maxDepth: Int): DataFrame = {
    val seed = edges.agg(min(col("src"))).head().getLong(0)
    val far = bfsDepthsDF(s, edges, seed, maxDepth)
      .orderBy(col("dist").desc, col("id").asc).head()
    val peak = far.getLong(0)
    val ecc = bfsDepthsDF(s, edges, peak, maxDepth)
      .agg(max(col("dist"))).head().getInt(0)
    s.createDataFrame(Seq((seed, peak, ecc.toLong)))
      .toDF("seed", "peak", "ecc_lb")
  }

  /** Level assignment for a generic (id, parent) forest: roots = nodes
    * whose parent id is NOT in the node set (a hierarchy table's usual
    * root marker — null, 0, or a foreign id all read as "no parent
    * here"), children level = parent level + 1, assigned by a top-down
    * frontier walk with the adaptive broadcast hint. THROWS past
    * `maxLevels` or on unreachable nodes (a cycle, or depth beyond the
    * bound) rather than silently dropping them — the g23 proven-
    * convergence discipline. Returns (id, lvl). Shared by the generic
    * BOM/critical-path rollups: both DPs rely on the forest property
    * child-level = parent-level + 1, which this walk guarantees.
    */
  private[graft] def forestLevels(s: SparkSession, nodes: DataFrame,
      maxLevels: Int): DataFrame = {
    val ids = nodes.select("id").distinct().transform(Checkpoints.cut)
    val total = ids.count()
    // duplicate ids would double-count the assigned tally below and
    // could MASK an unreachable node — reject up front, loudly
    require(nodes.count() == total,
      "hierarchy has duplicate node ids — one row per id required")
    var (frontier, rows) = Checkpoints.cutCounted(nodes
      .join(ids.select(col("id").as("parent")), Seq("parent"), "left_anti")
      .select(col("id"), lit(0).as("lvl")))
    var all = frontier
    var lvl = 0
    var assigned = rows
    while (rows > 0 && lvl < maxLevels) {
      lvl += 1
      val probe = if (rows <= FrontierBroadcastRows) broadcast(frontier)
        else frontier
      val (next, nextRows) = Checkpoints.cutCounted(nodes
        .join(probe.select(col("id").as("parent")), Seq("parent"),
          "left_semi")
        .select(col("id"), lit(lvl).as("lvl")))
      frontier = next
      rows = nextRows
      assigned += rows
      if (rows > 0) all = all.unionAll(frontier)
    }
    if (assigned < total) throw new IllegalStateException(
      s"hierarchy is not a bounded forest: ${total - assigned} node(s) " +
        s"unreachable from the roots within $maxLevels levels (cycle, " +
        "duplicate id, or depth beyond maxLevels)")
    all
  }

  /** G39's BOM explosion over a GENERIC (id, parent, qty) hierarchy
    * (qty = units of the child needed per unit of its parent): each
    * node's total descendant count and total component units
    * U(p) = Σ_c qty(c)·(1 + U(c)) — the number procurement actually
    * orders. Bottom-up LEVEL DP: [[forestLevels]] assigns depths, then
    * ~depth rounds of (child→parent aggregate + left join on the level
    * slice) compute every node in O(V) total work — the engine-
    * avoids/oracle-pays split vs the full root×path enumeration. At
    * 100 TB the per-round shuffle is one level's parent-keyed
    * aggregate; depth stays logarithmic in any real catalog. Returns
    * (id, n_desc, units).
    */
  def bomRollup(s: SparkSession, nodes0: DataFrame,
      maxLevels: Int = 64): DataFrame = {
    val nodes = nodes0.select(col("id").cast("long"),
        col("parent").cast("long"), col("qty").cast("long"))
      .transform(Checkpoints.cut)
    val nl = nodes.join(forestLevels(s, nodes, maxLevels), "id")
      .transform(Checkpoints.cut)
    // max over ZERO rows is null (an empty hierarchy is reachable from
    // the TVFs via a filtered TABLE() subquery) — coalesce to -1, which
    // makes the seed slice and the loop both trivially empty
    val maxL = nl.agg(coalesce(max("lvl"), lit(-1))).head().getInt(0)
    var computed = nl.filter(col("lvl") === maxL)
      .select(col("id"), lit(0L).as("n_desc"), lit(0L).as("units"))
    var acc = computed
    for (d <- maxL - 1 to 0 by -1) {
      // children of level-d nodes sit EXACTLY at level d+1 (the forest
      // property), so aggregating the previous round's slice is complete
      val agg = computed.join(nl.select("id", "parent", "qty"), "id")
        .groupBy(col("parent").as("pid"))
        .agg(sum(lit(1L) + col("n_desc")).as("kn"),
          sum(col("qty") * (lit(1L) + col("units"))).as("ku"))
      computed = nl.filter(col("lvl") === d).select("id")
        .join(agg, col("id") === col("pid"), "left")
        .select(col("id"), coalesce(col("kn"), lit(0L)).as("n_desc"),
          coalesce(col("ku"), lit(0L)).as("units"))
        .transform(Checkpoints.cut)
      acc = acc.unionAll(computed)
    }
    acc
  }

  /** G41's DAG critical path over a GENERIC (id, parent, cost)
    * hierarchy: crit(p) = cost(p) + max over children crit(c) — the
    * longest-cost chain a scheduler cannot compress. Same bounded
    * level DP as [[bomRollup]] with max in place of the multiplicative
    * sum (the scheduling dual of the BOM rollup). Returns (id, crit).
    */
  def criticalPathRollup(s: SparkSession, nodes0: DataFrame,
      maxLevels: Int = 64): DataFrame = {
    val nodes = nodes0.select(col("id").cast("long"),
        col("parent").cast("long"), col("cost").cast("long"))
      .transform(Checkpoints.cut)
    val nl = nodes.join(forestLevels(s, nodes, maxLevels), "id")
      .transform(Checkpoints.cut)
    // empty-hierarchy guard: see bomRollup
    val maxL = nl.agg(coalesce(max("lvl"), lit(-1))).head().getInt(0)
    var computed = nl.filter(col("lvl") === maxL)
      .select(col("id"), col("cost").as("crit"))
    var acc = computed
    for (d <- maxL - 1 to 0 by -1) {
      val best = computed.join(nl.select("id", "parent"), "id")
        .groupBy(col("parent").as("pid"))
        .agg(max("crit").as("mc"))
      computed = nl.filter(col("lvl") === d)
        .join(best, col("id") === col("pid"), "left")
        .select(col("id"),
          (col("cost") + coalesce(col("mc"), lit(0L))).as("crit"))
        .transform(Checkpoints.cut)
      acc = acc.unionAll(computed)
    }
    acc
  }

  /** G42's temporal co-occurrence motif over GENERIC
    * (key, actor, t, rid) observations: unordered pairs of DISTINCT
    * actors touching the same key within `deltaUs`, each observation
    * pair counted exactly once (canonical order: later timestamp,
    * rid tie-break), kept at n >= minCount — the time-respecting wedge
    * (a → key ← b, |t_a − t_b| ≤ δ) a temporal engine counts to find
    * coordinated actors. Pair generation goes through the BANDED range
    * join (one (key, time-band) shuffle, candidates only within one δ
    * band) — never the per-key quadratic self join the oracle pays.
    * Returns (s1, s2, n_coship).
    */
  def temporalCooccurrence(keyed: DataFrame, deltaUs: Long,
      minCount: Long): DataFrame = {
    val a = keyed.select(col("key"), col("actor").as("s_a"),
      col("t").as("ta"), col("rid").as("rid_a"))
    val b = keyed.select(col("key"), col("actor").as("s_b"),
      col("t").as("tb"), col("rid").as("rid_b"))
    RangeJoin.banded(a, b, "key", "ta", "tb", lowerUs = -1L,
        upperUs = deltaUs)
      .filter(col("s_a") =!= col("s_b"))
      // banded gives tb >= ta; on equal stamps the row id orders the
      // pair so each unordered observation pair counts exactly once
      .filter(graft.Det.epochUs(col("tb")) > graft.Det.epochUs(col("ta"))
        || col("rid_b") > col("rid_a"))
      .select(least(col("s_a"), col("s_b")).as("s1"),
        greatest(col("s_a"), col("s_b")).as("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("n_coship"))
      .filter(col("n_coship") >= minCount)
  }

  /** G17 — MULTI-source BFS in one traversal: exact min-depths from every
    * seed simultaneously, state keyed on (seed, id). The primitive behind
    * closeness/harmonic centrality sampling — k seeds cost ONE pass of
    * depth × (scan E + anti join), not k traversals; the per-level work
    * is the union of the per-seed frontiers, which share each edge scan.
    * The level loop is [[expandFrontier]], as for [[bfsDepthsDF]]:
    * levels up to `broadcastRows` ship as broadcasts, larger ones
    * (multi-seed frontiers are k× bigger, so this flips earlier than
    * single-source BFS) shuffle-join. Returns (seed, id, dist),
    * dist <= maxDepth.
    */
  def multiSourceBfs(s: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxDepth: Int, broadcastRows: Long = FrontierBroadcastRows): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().transform(Checkpoints.cut)
    val visited0 = seeds.select(col("id").cast("long").as("seed"))
      .distinct() // duplicate seed ids would inflate every dist-0 profile
      .select(col("seed"), col("seed").as("id"), lit(0).as("dist"))
    expandFrontier(visited0, Seq("seed", "id"), maxDepth, broadcastRows) {
      (probe, depth) =>
        probe.join(e, col("id") === col("src"))
          .select(col("seed"), col("dst").as("id")).distinct()
          .withColumn("dist", lit(depth))
    }
  }

  /** G20 — multi-source BFS carrying SHORTEST-PATH COUNTS (the Brandes
    * betweenness building block): per (seed, vertex), the min depth AND
    * the number of distinct shortest paths reaching it. Counts are exact
    * integers — level L+1's count(v) is the sum of the level-L parents'
    * counts, and BFS level order guarantees a parent's count is final
    * before any child sums it — so the operator is hash-matchable
    * against a walk-enumeration oracle (a walk whose length equals its
    * endpoint's min distance is exactly a shortest path). Same per-level
    * plan as [[multiSourceBfs]] with a (seed, dst) sum aggregation in
    * place of the distinct; the adaptive frontier broadcast carries
    * over. Combining a forward run from s with a backward run from t
    * gives σ_st(v) = paths_s(v) × paths_t(v) wherever
    * dist_s(v) + dist_t(v) = dist_s(t) — the per-pair dependency terms
    * betweenness accumulates. CAVEAT: that identity requires the
    * backward run to traverse the TRANSPOSE graph (reversed edges); on a
    * directed edge list, pass `edges.select(dst as src, src as dst)` for
    * the t-run, or the terms are silently wrong. g20 gets it for free
    * only because its input is symmetrized. Returns
    * (seed, id, dist, paths).
    */
  def pathCountBfs(s: SparkSession, edges: DataFrame, seeds: DataFrame,
      maxDepth: Int, broadcastRows: Long = FrontierBroadcastRows): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().transform(Checkpoints.cut)
    val visited0 = seeds.select(col("id").cast("long").as("seed"))
      .distinct()
      .select(col("seed"), col("seed").as("id"), lit(0).as("dist"),
        lit(1L).as("paths"))
    expandFrontier(visited0, Seq("seed", "id"), maxDepth, broadcastRows) {
      (probe, depth) =>
        probe.join(e, col("id") === col("src"))
          .groupBy(col("seed"), col("dst").as("id"))
          .agg(sum("paths").as("paths"))
          .withColumn("dist", lit(depth))
    }
  }

  /** G21 — Brandes dependency accumulation: the backward sweep that turns
    * [[pathCountBfs]]'s per-(seed, vertex) shortest-path counts into
    * per-(seed, vertex) aggregated dependencies
    * δ_s(v) = Σ_t σ_st(v)/σ_st — betweenness centrality is then just
    * Σ_seeds δ_s(v), one aggregation away. The sweep processes BFS levels
    * in REVERSE: for each level d (deepest first),
    * δ(v) += σ(v)/σ(w) · (1 + δ(w)) summed over shortest-path DAG edges
    * (v, w) with dist(w) = dist(v)+1 — BFS level order guarantees δ(w) is
    * final before any predecessor reads it. Each level is ONE join + agg
    * with the same adaptive-broadcast shape as the forward pass: the
    * level-d (seed, id, delta) state is a frontier-sized table probed
    * against the DAG edge table, which is derived ONCE (two joins of the
    * edge list against the BFS result) and checkpointed. Per Brandes'
    * original observation this costs O(levels) passes over E total —
    * NOT O(V) single-source sweeps — which is what makes betweenness
    * feasible at scale at all.
    *
    * Directed inputs: dependencies propagate along FORWARD edges of the
    * input (v → w means w is downstream of v on s-paths), the standard
    * directed-Brandes orientation — no transpose needed here, unlike the
    * forward×backward σ product identity documented on [[pathCountBfs]].
    *
    * δ values are sums of σ ratios — genuine rationals, emitted as
    * doubles. The operator is therefore spec-gated (random-digraph
    * equivalence vs a local Brandes oracle in GraphOpsSpec) rather than
    * hash-oracled; the exact-integer restricted form is the g21b contract
    * query. Returns (seed, id, dist, paths, delta); δ(seed) itself is
    * reported but excluded from betweenness by convention.
    */
  def brandesDependencies(s: SparkSession, edges: DataFrame,
      seeds: DataFrame, maxDepth: Int,
      broadcastRows: Long = FrontierBroadcastRows): DataFrame = {
    val bfs = pathCountBfs(s, edges, seeds, maxDepth, broadcastRows)
      .transform(Checkpoints.cut)
    val maxLevel = bfs.agg(coalesce(max("dist"), lit(0))).head().getInt(0)
    if (maxLevel == 0) // isolated seeds: every δ is 0
      return bfs.withColumn("delta", lit(0.0))
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
    // shortest-path DAG, per seed: edge (v, w) survives iff it advances
    // the BFS by exactly one level. Derived once, reused every level.
    val dag = e
      .join(bfs.select(col("seed"), col("id").as("src"),
        col("dist").as("d_v"), col("paths").as("p_v")), "src")
      .join(bfs.select(col("seed"), col("id").as("dst"),
        col("dist").as("d_w"), col("paths").as("p_w")), Seq("seed", "dst"))
      .filter(col("d_w") === col("d_v") + 1)
      .select(col("seed"), col("src"), col("dst"), col("d_w"),
        (col("p_v").cast("double") / col("p_w")).as("ratio"))
      .transform(Checkpoints.cut)
    // per-level reverse sweep; deltaLevel holds level-d state only, cut
    // with its size observed for the probe decision
    var (deltaLevel, rows) = Checkpoints.cutCounted(
      bfs.filter(col("dist") === maxLevel)
        .select(col("seed"), col("id"), lit(0.0).as("delta")))
    var deltaAll = deltaLevel
    var level = maxLevel
    while (level > 0) {
      val probe = if (rows <= broadcastRows) broadcast(deltaLevel)
        else deltaLevel
      val contrib = dag.filter(col("d_w") === level)
        .join(probe.select(col("seed"), col("id").as("dst"),
          col("delta").as("d_delta")), Seq("seed", "dst"))
        .groupBy(col("seed"), col("src"))
        .agg(sum(col("ratio") * (lit(1.0) + col("d_delta"))).as("delta"))
        .select(col("seed"), col("src").as("id"), col("delta"))
      // vertices at level-1 with no DAG successors get δ = 0
      val (next, nextRows) = Checkpoints.cutCounted(
        bfs.filter(col("dist") === level - 1)
          .select(col("seed"), col("id"))
          .join(contrib, Seq("seed", "id"), "left_outer")
          .select(col("seed"), col("id"),
            coalesce(col("delta"), lit(0.0)).as("delta")))
      deltaLevel = next
      rows = nextRows
      deltaAll = deltaAll.unionAll(deltaLevel).transform(Checkpoints.cut)
      level -= 1
    }
    bfs.join(deltaAll, Seq("seed", "id"))
  }

  /** G21b — restricted betweenness in EXACT integers: the betweenness
    * numerators over the pair set {(s, t1..t3)} (s = min vertex, tj =
    * first three distance-3 targets), scaled by the common σ product —
    * b̂(v) = Σ_t σ_st(v)·Π_{j≠t}σ_stj = (Πσ)·Σ_t σ_st(v)/σ_st, i.e.
    * Brandes' pair-dependency sum times an integer constant. Every
    * factor is an exact path count, so the result hash-matches a DuckDB
    * walk-enumeration replay. The 3-row σ table is a constant-size
    * driver fetch (like codebook collects).
    *
    * Exactness guards (ADVICE r8/r9): the scale product runs in BigInt
    * and THROWS past Long range (a bare Long product wraps silently on a
    * denser graph, unlike the oracle's HUGEINT which errors on its
    * BIGINT cast); the σ·σ·scale sum runs in decimal(38,0) with an ANSI
    * cast back to long (loud on overflow, like the oracle). Fewer than 2
    * targets also throws: the engine's empty scale product (= 1) and the
    * oracle's empty self-join (= no rows) would silently disagree.
    */
  def restrictedBetweenness(s: SparkSession, edges: DataFrame): DataFrame = {
    val seed = edges.agg(min(col("src"))).head().getLong(0)
    val fwd = pathCountBfs(s, edges,
        s.createDataFrame(Seq(Tuple1(seed))).toDF("id"), maxDepth = 3)
      .transform(Checkpoints.cut)
    val targets = fwd.filter(col("dist") === 3)
      .select(col("id")).orderBy("id").limit(3)
    val bwd = pathCountBfs(s, edges, targets, maxDepth = 3)
    val sig = fwd.join(targets, "id")
      .select(col("id"), col("paths")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(sig.length >= 2,
      s"restricted betweenness needs >=2 distance-3 targets, got " +
        s"${sig.length}: a single target's empty scale product (= 1) " +
        "diverges from the oracle's empty cross-target join")
    val scales = sig.map { case (t, _) =>
      val p = sig.filter(_._1 != t).map(x => BigInt(x._2)).product
      require(p.isValidLong,
        s"sigma product $p for target $t overflows long — the bare " +
          "product would wrap silently where the oracle errors")
      (t, p.toLong)
    }.toSeq
    val scaleDf = s.createDataFrame(scales).toDF("t_id", "scale")
    fwd.select(col("id"), col("dist").as("d_s"), col("paths").as("p_s"))
      .join(bwd.select(col("seed").as("t_id"), col("id"),
        col("dist").as("d_t"), col("paths").as("p_t")), "id")
      .filter(col("d_s") + col("d_t") === 3 &&
        col("id") =!= seed && col("id") =!= col("t_id"))
      .join(broadcast(scaleDf), "t_id")
      .groupBy(col("id"))
      .agg(sum(col("p_s").cast("decimal(38,0)") * col("p_t") * col("scale"))
        .as("btw_dec"))
      .select(col("id").as("v_id"), checkedLong(col("btw_dec"), "g21b")
        .as("btw_scaled"))
      .orderBy("v_id")
  }

  /** decimal(38,0) → long with the suite's throw-don't-wrap discipline
    * (ADVICE r10): in non-ANSI mode an out-of-range decimal→long cast
    * yields NULL silently; here that NULL trips assert_true instead.
    * The sum can never be genuinely NULL (groupBy emits only non-empty
    * groups over non-null products), so cast-null ⇔ overflow exactly.
    * assert_true returns NULL on pass, so the coalesce feeds the real
    * cast through while keeping the check in the live plan.
    */
  private def checkedLong(dec: Column, tag: String): Column =
    coalesce(
      assert_true(dec.cast("long").isNotNull,
        concat(lit(s"$tag betweenness sum overflows long: "),
          dec.cast("string"))).cast("long"),
      dec.cast("long"))

  /** G38 — restricted EDGE betweenness in exact integers: the same pair
    * set, σ scaling, and overflow discipline as
    * [[restrictedBetweenness]], counted per directed ARC instead of per
    * interior vertex — Girvan–Newman's edge-removal score. An arc
    * (u, v) lies on an s→t shortest path iff d_s(u) + 1 + d̂_t(v) =
    * d(s, t) (= 3 here), and then carries σ_s(u)·σ̂_t(v) of the σ_st
    * paths; level consistency is automatic (a cheaper meeting would
    * contradict d(s, t)). All three arcs of every path count —
    * endpoints included, unlike the vertex form's interior-only
    * convention — matching the oracle's path-edge enumeration. The
    * backward counts reuse the same edge set, which is correct on the
    * symmetric co-part substrate (every arc has its reverse).
    */
  def restrictedEdgeBetweenness(s: SparkSession, edges: DataFrame)
      : DataFrame = {
    val seed = edges.agg(min(col("src"))).head().getLong(0)
    val fwd = pathCountBfs(s, edges,
        s.createDataFrame(Seq(Tuple1(seed))).toDF("id"), maxDepth = 3)
      .transform(Checkpoints.cut)
    val targets = fwd.filter(col("dist") === 3)
      .select(col("id")).orderBy("id").limit(3)
    val bwd = pathCountBfs(s, edges, targets, maxDepth = 3)
      .transform(Checkpoints.cut)
    val sig = fwd.join(targets, "id")
      .select(col("id"), col("paths")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    require(sig.length >= 2,
      s"restricted edge betweenness needs >=2 distance-3 targets, got " +
        s"${sig.length} (the g21b divergence guard)")
    val scales = sig.map { case (t, _) =>
      val p = sig.filter(_._1 != t).map(x => BigInt(x._2)).product
      require(p.isValidLong,
        s"sigma product $p for target $t overflows long")
      (t, p.toLong)
    }
    val scaleDf = s.createDataFrame(scales.toSeq).toDF("t_id", "scale")
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .join(fwd.select(col("id").as("src"), col("dist").as("d_s"),
        col("paths").as("p_s")), "src")
      .join(bwd.select(col("seed").as("t_id"), col("id").as("dst"),
        col("dist").as("d_t"), col("paths").as("p_t")), "dst")
      .filter(col("d_s") + lit(1) + col("d_t") === 3)
      .join(broadcast(scaleDf), "t_id")
      .groupBy(col("src"), col("dst"))
      .agg(sum(col("p_s").cast("decimal(38,0)") * col("p_t") * col("scale"))
        .as("btw_dec"))
      .select(col("src"), col("dst"), checkedLong(col("btw_dec"), "g38")
        .as("btw_scaled"))
      .orderBy("src", "dst")
  }

  /** Single-source weighted shortest distances (min-plus), frontier-based
    * Bellman-Ford over DataFrames: each round relaxes only the edges out
    * of vertices improved in the previous round, so a converged region
    * costs nothing. Weights are LONG (non-negative) — integer min-plus is
    * associative-exact, so results are deterministic and hash-oracle-able
    * (a double-weight variant would be subject to summation-order ulps).
    *
    * `maxRounds` bounds the relaxation rounds (distance = cheapest path
    * using <= maxRounds edges); the default runs to the fix point, which
    * non-negative weights reach after at most |V|-1 rounds. The frontier
    * broadcast decision is adaptive, as in [[bfsDepthsDF]]: the improved
    * set is cut per round, and its size (the termination test and the
    * broadcast switch) is observed on that cut's own job.
    *
    * At 100 TB: per-round shuffle is the dst-min aggregation, O(edges out
    * of the frontier); `dist` stays partitioned on id, and bucketing the
    * edge table by src makes the relax join exchange-free on the edge
    * side.
    */
  def weightedDistancesDF(s: SparkSession, edges: DataFrame, seed: Long,
      maxRounds: Int = Int.MaxValue,
      broadcastRows: Long = FrontierBroadcastRows): DataFrame = {
    import s.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("weight").cast("long")).transform(Checkpoints.cut)
    var dist = Seq((seed, 0L)).toDF("id", "dist").transform(Checkpoints.cut)
    // (id, dist) pairs improved last round — only their out-edges can
    // improve anything this round
    var frontier = dist
    var frontierRows = 1L
    var round = 0
    while (round < maxRounds && frontierRows > 0) {
      round += 1
      val probe = (if (frontierRows <= broadcastRows) broadcast(frontier)
        else frontier)
        .select(col("id").as("src"), col("dist").as("sd"))
      val cand = e.join(probe, "src")
        .select(col("dst").as("id"), (col("sd") + col("weight")).as("cand"))
        .groupBy("id").agg(min(col("cand")).as("cand"))
      val (next, nextRows) = Checkpoints.cutCounted(
        cand.join(dist.withColumnRenamed("dist", "old"), Seq("id"), "left_outer")
          .filter(col("old").isNull || col("cand") < col("old"))
          .select(col("id"), col("cand").as("dist")))
      frontier = next
      frontierRows = nextRows
      if (frontierRows > 0) dist = dist
        .join(frontier.withColumnRenamed("dist", "nd"), Seq("id"), "full_outer")
        .select(col("id"),
          least(coalesce(col("dist"), col("nd")), coalesce(col("nd"), col("dist")))
            .as("dist"))
        .transform(Checkpoints.cut)
    }
    dist
  }

  /** Connected components, labelled by the minimum vertex id of each
    * component — the Catalyst-native twin of GraphX's
    * `connectedComponents` (GraphOpsSpec asserts they agree against the
    * test-scope `GraphXOracles`). The vertex set is the endpoints
    * of the non-self-loop edges.
    *
    * The algorithm is chosen from the input's size, observed on the
    * first lineage cut (the distinct non-self-loop edges) — the cut's own
    * job reports the edge count n, so the choice costs no job:
    *  - n ≤ [[FrontierBroadcastRows]] (the bound under which the engine
    *    already ships frames through the driver as broadcasts): ONE
    *    collect job brings the edges to the driver, union-find labels
    *    them there, and the labels come back as a local frame — two jobs
    *    in all, whatever the diameter (the maintained folds' recolour and
    *    quotient merge are this case);
    *  - above it: [[starContractionCC]]'s O(log n) star-contraction
    *    rounds, entirely in Tungsten.
    * Both paths return the same vertex set and the same labels.
    */
  def connectedComponentsDF(s: SparkSession, edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val (e, sig) = ccEdgeCut(edges)
    if (sig._1 <= FrontierBroadcastRows) unionFindCC(s, e, sig._1)
    else starRounds(e, sig, maxRounds)
  }

  /** `df` cut, with the (count, xor-hash) convergence signature observed
    * on the cut's own job. bit_xor, not sum: ANSI mode makes a long sum
    * of hashes overflow.
    */
  private def cutSig(df: DataFrame): (DataFrame, (Long, Long)) = {
    val (out, r) = Checkpoints.cutObserved(df, count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(col("src"), col("dst"))), lit(0L)).as("h"))
    (out, (r.getLong(0), r.getLong(1)))
  }

  /** The first cut of both CC paths: the distinct non-self-loop edges. */
  private def ccEdgeCut(edges: DataFrame): (DataFrame, (Long, Long)) =
    cutSig(edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct())

  /** Union-find over the cut edge list `e` of `n` rows, on the driver. */
  private def unionFindCC(s: SparkSession, e: DataFrame, n: Long)
      : DataFrame = {
    val rows = e.collect()
    require(rows.length == n,
      s"connectedComponentsDF: collected ${rows.length} edges, cut had $n")
    val (ids, labels) =
      unionFind(rows.flatMap(r => Array(r.getLong(0), r.getLong(1))))
    import s.implicits._
    ids.indices.map(j => (ids(j), labels(j))).toDF("id", "component")
  }

  /** Connected components of the pairs in `ends` (ends(2i), ends(2i+1) is
    * pair i), on the driver: the distinct endpoints, sorted, and each
    * one's label. The forest is an Int parent array over the ids'
    * positions; every link points the larger root at the smaller, so each
    * label is its component's minimum id. A pair of equal ids links
    * nothing but still names its id.
    */
  private[graft] def unionFind(ends: Array[Long]): (Array[Long], Array[Long]) = {
    val ids = sortedDistinct(ends)
    val parent = Array.tabulate(ids.length)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def pos(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    var i = 0
    while (i < ends.length / 2) {
      val a = find(pos(ends(2 * i)))
      val b = find(pos(ends(2 * i + 1)))
      if (a < b) parent(b) = a else if (b < a) parent(a) = b
      i += 1
    }
    (ids, Array.tabulate(ids.length)(j => ids(find(j))))
  }

  /** The distinct values of `a`, sorted, in a new array. */
  private[graft] def sortedDistinct(a: Array[Long]): Array[Long] = {
    val ids = a.clone()
    java.util.Arrays.sort(ids)
    var k = 0
    var i = 0
    while (i < ids.length) {
      if (k == 0 || ids(i) != ids(k - 1)) { ids(k) = ids(i); k += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(ids, k)
  }

  /** Connected components as alternating large-star / small-star rounds,
    * whatever the input's size — the path [[connectedComponentsDF]] takes
    * above [[FrontierBroadcastRows]] edges; tests call it directly to pin
    * it on small graphs. Converges in O(log n) rounds rather than
    * O(diameter) supersteps, entirely in Tungsten: each star op is ONE
    * window-min shuffle over one read of its input (no collect_set), and
    * each two-round step is one lineage cut whose job also reports the
    * convergence signature — one job per step.
    *
    * large-star: every node's strictly-larger neighbors re-point to the
    * minimum of its closed neighborhood; small-star: smaller-or-equal
    * neighbors do. Alternating the two is the two-phase algorithm of
    * Kiveris et al. (MR-CC); at the fixed point the edge set is a star
    * per component rooted at its minimum id.
    *
    * Scale: per-round shuffle volume is O(|E|); rounds are logarithmic
    * (worst graphs ~2·log n). Late-round degree concentrates on component
    * minima — inherent to the output shape (a star) — which parquet/
    * shuffle handle fine; only a pathological single-component 10^11-edge
    * graph would want salted roots.
    */
  private[graft] def starContractionCC(s: SparkSession, edges: DataFrame,
      maxRounds: Int = 50): DataFrame = {
    val (e, sig) = ccEdgeCut(edges)
    starRounds(e, sig, maxRounds)
  }

  /** The star-contraction loop of [[starContractionCC]] from the cut edge
    * list `e0` and its signature `sig0`.
    */
  private def starRounds(e0: DataFrame, sig0: (Long, Long),
      maxRounds: Int): DataFrame = {
    // Each star op reads its input ONCE: both arc directions (largeStar)
    // and both output arcs (smallStar) come out of one row through
    // inline(array(struct…)). A self-unionAll would read the input twice
    // per op, so the composed two-round plan below would hold 16 copies
    // of its leaf; with inline it holds one, and the arc multisets are
    // the same.
    def largeStar(e: DataFrame): DataFrame = {
      // symmetric arcs so Γ(u) is the full neighborhood. No distinct on
      // the output: duplicate (v, m) arcs from different groups don't
      // perturb the next window-min, and smallStar dedups once per round.
      val arcs = e.select(inline(array(struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))))
      val w = arcs.withColumn("m",
        least(min(col("dst")).over(Window.partitionBy("src")), col("src")))
      w.filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
    }

    def smallStar(e: DataFrame, dedup: Boolean): DataFrame = {
      // canonical arcs (hi -> lo); m = min of the smaller neighborhood
      val canon = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      val w = canon.withColumn("m",
        min(col("dst")).over(Window.partitionBy("src")))
      // (dst -> m) for every non-minimum neighbor, (src -> m) for the
      // node itself; the self-loop filter drops dst == m and src == m
      val out = w.select(inline(array(
          struct(col("dst").as("src"), col("m").as("dst")),
          struct(col("src"), col("m").as("dst")))))
        .filter(col("src") =!= col("dst"))
      // duplicate arcs never perturb a window-min, so dedup is a size
      // bound, not a correctness step — pay its shuffle once per BATCH
      // (at the materialization point), not once per round
      if (dedup) out.distinct() else out
    }

    var e = e0
    var last = sig0
    // derive the vertex set from the checkpointed edges, not the source
    // plan — otherwise the (possibly expensive) edge derivation runs twice
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct().transform(Checkpoints.cut)
    var round = 0
    var done = false
    while (round < maxRounds && !done) {
      // TWO composed contraction rounds per materialization (ROADMAP 3):
      // the fixed point is stable under extra rounds, so batching halves
      // the checkpoint jobs — the per-round job-launch overhead that
      // dominates at small SF — without changing the result. Convergence
      // typically needs O(log n) rounds, so the at-most-one wasted extra
      // round is noise. Each materialization is ONE job: the signature
      // is observed on the cut, not read by a second aggregate job.
      round += 2
      val (next, cur) = cutSig(smallStar(largeStar(
          smallStar(largeStar(e), dedup = false)), dedup = true))
      done = cur == last
      last = cur
      e = next
    }
    // The signature test is a heuristic (a (count, xor-hash) collision or
    // exhausting maxRounds could exit on a non-fixed point); verify the
    // STRUCTURAL fixed point — the arc set is a star forest: one parent
    // per node and no parent is itself a child. Both checks are single
    // small jobs over the final one-arc-per-vertex set; fail loudly
    // rather than return partially-contracted labels.
    val multiParent = e.groupBy("src").agg(count_distinct(col("dst")).as("n"))
      .filter(col("n") > 1).limit(1).count() > 0
    val chainedArc = e.select(col("src"))
      .intersect(e.select(col("dst"))).limit(1).count() > 0
    if (multiParent || chainedArc) throw new IllegalStateException(
      s"connectedComponentsDF: not a star forest after $round rounds " +
        s"(multiParent=$multiParent chainedArc=$chainedArc) — raise maxRounds")
    // fixed point = stars (node -> component min); minima label themselves
    verts.join(e.select(col("src").as("id"), col("dst").as("component")),
        Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** G11 — synchronous label propagation (community detection), `rounds`
    * fixed rounds, DETERMINISTIC: each vertex adopts the most frequent
    * label among its neighbors, ties broken by the SMALLEST label (unlike
    * GraphX's LabelPropagation, whose `maxBy` over a hash map breaks ties
    * in hash-iteration order — unreproducible across runs/engines).
    * Determinism makes the k-round result SQL-expressible, so g13 is
    * hash-oracled against a k-unrolled DuckDB replay (g13).
    *
    * Pure DataFrame rounds (join + count + window argmax) left UNROLLED
    * into one pipelined job: with small k, ~3 exchanges per round in one
    * job beat k materialization barriers (the k-hop lesson from r5). For
    * large k, checkpoint every few rounds like [[connectedComponentsDF]].
    *
    * PRECONDITION (same as [[kCorePeelDF]]): `edges` must contain both
    * directions of every undirected edge — rounds rebuild the label set
    * via groupBy(src), so a vertex appearing only as a dst would vanish
    * from the output after round 1.
    */
  def labelPropagationDF(s: SparkSession, edges: DataFrame, rounds: Int): DataFrame = {
    val e = edges.select("src", "dst")
    var labels = e.select(col("src").as("id")).unionAll(
        e.select(col("dst").as("id")))
      .distinct()
      .withColumn("label", col("id"))
    for (_ <- 1 to rounds) {
      val w = Window.partitionBy("id")
        .orderBy(col("cnt").desc, col("label").asc)
      labels = e.join(labels.select(col("id").as("dst"), col("label")), "dst")
        .groupBy(col("src").as("id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select("id", "label")
    }
    labels
  }

  /** G44 — WEIGHTED label propagation (added r14): [[labelPropagationDF]]
    * with the neighbor vote weighted by the edge-weight column `w`
    * (a vertex adopts the label with the largest incident WEIGHT sum;
    * tie-break weight desc, label asc — the same determinism contract).
    * Input edges in both directions carrying `w`; at w ≡ 1 this IS the
    * unweighted kernel. Same plan per round: one vertex-keyed join +
    * one (vertex, label) agg + one argmax window.
    */
  def labelPropagationWeightedDF(s: SparkSession, edges: DataFrame,
      rounds: Int): DataFrame = {
    val e = edges.select("src", "dst", "w")
    var labels = e.select(col("src").as("id")).unionAll(
        e.select(col("dst").as("id")))
      .distinct()
      .withColumn("label", col("id"))
    for (_ <- 1 to rounds) {
      val win = Window.partitionBy("id")
        .orderBy(col("wsum").desc, col("label").asc)
      labels = e.join(labels.select(col("id").as("dst"), col("label")),
          "dst")
        .groupBy(col("src").as("id"), col("label"))
        .agg(sum("w").as("wsum"))
        .withColumn("__rn", row_number().over(win))
        .filter(col("__rn") === 1)
        .select("id", "label")
    }
    labels
  }

  /** G14 — bounded k-core peeling: `rounds` synchronous rounds of
    * dropping vertices with degree < k (and their edges) from the
    * undirected graph (edges given in both directions, so out-degree ==
    * degree). Bounded rounds keep the contract deterministic and
    * SQL-expressible (unrolled replay = the g14 hash oracle), matching
    * the depth-bounded convention of the other traversals; the fixpoint
    * is reached when a round removes nothing. Returns surviving
    * (id, deg). Per round: one degree aggregation + two semi joins.
    *
    * Each round's edge list is MATERIALIZED (localCheckpoint, blocks
    * freed by the ContextCleaner): a round references its input three
    * times (degree agg + both semi-join probes), so a fully-unrolled
    * lazy plan re-executes the base subtree 3^rounds times — measured
    * 37 s vs ~2 s on the co-part graph at sf0.01. This is the flip side
    * of the k-hop lesson: pipelining wins when each stage is consumed
    * once; fan-out stages pay for materialization.
    */
  def kCorePeelDF(s: SparkSession, edges: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var e = edges.select("src", "dst").transform(Checkpoints.cut)
    for (_ <- 1 to rounds) {
      val keep = e.groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("id")
      e = e.join(keep.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(keep.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst")
        .transform(Checkpoints.cut)
    }
    e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
  }

  /** G43 — FULL CORENESS DECOMPOSITION by H-index iteration (Lü et al.
    * 2016: iterating c(v) ← H-index of neighbors' c from c0 = degree
    * converges to the core number): per round, each vertex's new value
    * is the largest h such that ≥ h neighbors currently hold ≥ h —
    * computed with one vertex-keyed join + one rank window + one agg,
    * the LPA round shape. Where [[kCorePeelDF]] answers "who survives
    * the k-core" for ONE k, this returns every vertex's shell index in
    * one bounded loop (values only DECREASE, so convergence is
    * monotone; the registry's 8 rounds are mirrored exactly in the
    * unrolled oracle, and GraphOpsSpec pins true coreness on
    * clique+path+bridge fixtures plus an extra-round fixpoint).
    * Tie-order inside the rank window is (value desc, neighbor id) —
    * ties hold identical values, so the h read is order-independent,
    * but the pinned order keeps the plan deterministic end to end.
    *
    * Precondition (as [[kCorePeelDF]]): `edges` contains both
    * directions. At 100 TB: rounds × (one edge-keyed shuffle + one
    * per-vertex window) with checkpoint cuts — no peeling cascade, no
    * per-k re-run.
    */
  def corenessHIndex(s: SparkSession, edges: DataFrame, rounds: Int)
      : DataFrame = {
    val e = edges.select("src", "dst").transform(Checkpoints.cut)
    var c = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("c"))
      .transform(Checkpoints.cut)
    for (_ <- 1 to rounds) {
      val nb = e.join(c.select(col("id").as("dst"), col("c").as("cn")),
          "dst")
        .withColumn("r", row_number().over(Window.partitionBy("src")
          .orderBy(col("cn").desc, col("dst").asc)))
      c = nb.groupBy(col("src").as("id"))
        .agg(coalesce(max(when(col("cn") >= col("r"), col("r"))), lit(0L))
          .cast("long").as("c"))
        .transform(Checkpoints.cut)
    }
    c.select(col("id"), col("c").as("coreness"))
  }

  /** G22 — bounded k-TRUSS peeling over canonical (x < y) pairs: each
    * round computes per-edge SUPPORT (the number of triangles the edge
    * closes) and drops edges with support < k−2; the fix point is the
    * k-truss, the standard cohesive-subgraph strengthening of k-core
    * (an edge must be embedded in triangles, not merely touch a
    * well-connected vertex). Bounded rounds keep the operator
    * deterministic and hash-oracle-able — the same contract as
    * [[kCorePeelDF]]'s bounded peeling.
    *
    * Per round: DEGREE-ORDERED triangle enumeration — each surviving
    * edge is oriented from its (deg, id)-smaller endpoint to the larger,
    * wedges are generated only at each triangle's degree-minimum apex
    * (two out-edges of the same vertex, ordered), and the closing
    * oriented edge joins them shut, so each triangle materializes ONCE.
    * Orientation bounds the wedge fan-out by the ORIENTED out-degree,
    * which is O(√m) on any graph — a canonical a<b<c enumeration instead
    * fans a low-ID hub out by its full degree squared, the classic skew
    * killer on power-law graphs (this is the cost shape that makes
    * triangle listing feasible at 100 TB at all). Each triangle then
    * votes support into its 3 canonical (x<y) edges and a groupBy
    * counts. Support recomputation-from-scratch per round (not
    * decremented) keeps every round a pure function of the surviving
    * edge set — idempotent, retry-safe, and exactly replayable in SQL.
    * At 100 TB: degree agg + orientation are one shuffle each, the
    * wedge join keys on the apex, the closure join on the (b, c) pair —
    * all equi joins over the edge list.
    */
  def kTrussPeel(s: SparkSession, pairs: DataFrame, k: Int,
      rounds: Int): DataFrame = {
    var e = pairs.select(col("x").cast("long"), col("y").cast("long"))
      .distinct().transform(Checkpoints.cut)
    for (_ <- 1 to rounds) {
      val deg = e.select(col("x").as("id"))
        .unionAll(e.select(col("y").as("id")))
        .groupBy("id").agg(count(lit(1)).as("deg"))
      val o = e
        .join(deg.select(col("id").as("x"), col("deg").as("dx")), "x")
        .join(deg.select(col("id").as("y"), col("deg").as("dy")), "y")
        .select(when(col("dx") < col("dy") ||
              (col("dx") === col("dy") && col("x") < col("y")),
            struct(col("x").as("u"), col("y").as("v"),
              col("dx").as("du"), col("dy").as("dv")))
          .otherwise(struct(col("y").as("u"), col("x").as("v"),
            col("dy").as("du"), col("dx").as("dv"))).as("s"))
        .select(col("s.u").as("u"), col("s.v").as("v"),
          col("s.du").as("du"), col("s.dv").as("dv"))
        .transform(Checkpoints.cut)
      // wedges at the degree-minimum apex: out-edge pairs in orientation
      // order; the closing edge exists only in that same order, so the
      // join both completes and dedups the triangle
      val wedges = o.select(col("u").as("a"), col("v").as("b"),
          col("dv").as("db"))
        .join(o.select(col("u").as("a"), col("v").as("c"),
          col("dv").as("dc")), "a")
        .filter(col("db") < col("dc") ||
          (col("db") === col("dc") && col("b") < col("c")))
      val tri = wedges
        .join(o.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
        .select("a", "b", "c")
      def canon(p: Column, q: Column) =
        struct(least(p, q).as("x"), greatest(p, q).as("y"))
      val support = tri.select(canon(col("a"), col("b")).as("e"))
        .unionAll(tri.select(canon(col("a"), col("c")).as("e")))
        .unionAll(tri.select(canon(col("b"), col("c")).as("e")))
        .select(col("e.x").as("x"), col("e.y").as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("support"))
      e = e.join(support, Seq("x", "y"), "left_outer")
        .filter(coalesce(col("support"), lit(0L)) >= k - 2)
        .select("x", "y")
        .transform(Checkpoints.cut)
    }
    e
  }

  /** G23 — strongly connected components by the distributed COLORING
    * algorithm (forward/backward label propagation — the standard
    * MapReduce/Pregel SCC of Orzan-style detectors, not Tarjan's stack,
    * which is inherently sequential):
    *
    * per outer round, over the still-unsettled subgraph:
    *   1. FORWARD fixpoint: f(v) = min vertex id among v's ancestors
    *      (including v), by iterated edge-join min-propagation.
    *   2. BACKWARD sweep restricted to each color class {v : f(v)=r}:
    *      starting from the root r itself, mark vertices that reach r
    *      through same-colored vertices. Soundness: any path v →* r with
    *      f(v)=r stays inside color r (an off-color vertex w on it would
    *      have an ancestor u < r, and u →* w →* r →* v would drag f(v)
    *      below r) — so marked ⇔ (r →* v ∧ v →* r) ⇔ v ∈ SCC(r).
    *   3. Marked vertices settle with scc_id = their color root; both
    *      endpoints' edges drop out; repeat on the remainder.
    *
    * Every step is an equi join + agg (no nested loops); per-iteration
    * state is one (id, label) row per vertex, lineage cut per iteration
    * like the other iterative ops. Each round settles one SCC per color
    * root IN PARALLEL across roots, so rounds track the condensation
    * DAG's depth, not the SCC count. Bounds are explicit; a non-converged
    * run THROWS (scalar count check) instead of returning a wrong
    * partition — at 100 TB you want the loud failure, not silent
    * mislabeled components.
    *
    * Returns (id, scc_id) with scc_id = min member id — deterministic,
    * so the g23 contract query hash-matches a DuckDB recursive
    * mutual-reachability oracle, and GraphOpsSpec gates the operator
    * against a local Tarjan on random digraphs.
    */
  def stronglyConnectedComponents(s: SparkSession, edges: DataFrame,
      rounds: Int, iters: Int): DataFrame = {
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(Checkpoints.cut)
    var verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct().transform(Checkpoints.cut)
    var settled: DataFrame = null
    var remaining = verts.count()
    var round = 0

    // Σf over the current label vector, in decimal so a 100 TB-scale id
    // space cannot wrap a long. Labels only ever DECREASE componentwise,
    // so an unchanged sum after a full propagation step PROVES the
    // fixpoint — a fixed iteration count could stop early and settle a
    // coloring whose roots still disagree, silently splitting one SCC
    // across two color roots (the r8/r9 ADVICE finding).
    def labelSum(f: DataFrame): java.math.BigDecimal =
      f.agg(sum(col("f").cast("decimal(38,0)"))).head().getDecimal(0)

    while (remaining > 0 && round < rounds) {
      round += 1
      // 1. forward min-ancestor fixpoint over the remaining subgraph —
      //    loop until a step changes nothing (early exit on shallow
      //    graphs), THROW if `iters` steps can't prove stability.
      var f = verts.withColumn("f", col("id")).transform(Checkpoints.cut)
      var fsum = labelSum(f)
      var stable = false
      var it = 0
      while (!stable && it < iters) {
        // batch up to 4 propagation steps per stability check: labels
        // only DECREASE componentwise, so sum equality across the whole
        // batch still PROVES the fixpoint (any change in any batched
        // step strictly lowers the sum) — 4× fewer driver syncs and
        // checkpoint jobs on deep graphs, identical proof obligation
        val batch = math.min(4, iters - it)
        var b = 0
        while (b < batch) {
          b += 1; it += 1
          val in = e.join(f.select(col("id").as("src"), col("f").as("fs")),
              "src")
            .groupBy(col("dst").as("id")).agg(min(col("fs")).as("fin"))
          f = f.join(in, Seq("id"), "left_outer")
            .select(col("id"),
              least(col("f"), coalesce(col("fin"), col("f"))).as("f"))
          if (b == batch) f = f.transform(Checkpoints.cut)
        }
        val s2 = labelSum(f)
        stable = s2.compareTo(fsum) == 0
        fsum = s2
      }
      if (!stable) {
        // the last batch may have CROSSED the fixpoint without
        // witnessing it (its sum still differs from the batch-start
        // sum); one extra single-step probe settles the question
        // before declaring non-convergence — a proof step, not extra
        // propagation budget
        val in = e.join(f.select(col("id").as("src"), col("f").as("fs")),
            "src")
          .groupBy(col("dst").as("id")).agg(min(col("fs")).as("fin"))
        val f2 = f.join(in, Seq("id"), "left_outer")
          .select(col("id"),
            least(col("f"), coalesce(col("fin"), col("f"))).as("f"))
          .transform(Checkpoints.cut)
        val s2 = labelSum(f2)
        stable = s2.compareTo(fsum) == 0
        f = f2
        fsum = s2
      }
      require(stable,
        s"SCC forward min-label fixpoint still changing after iters=$iters " +
          s"steps (round $round) — raise iters (label propagation depth " +
          "exceeds the bound); refusing to settle a non-converged coloring")
      // 2. backward marking through same-color edges, seeded at roots.
      //    Delta-frontier: each step expands only from newly marked
      //    vertices (the anti-join keeps frontiers disjoint, so the
      //    running marked set needs NO re-distinct — per-step cost tracks
      //    the frontier, not the accumulated set). Empty frontier IS the
      //    convergence proof; a still-live frontier at the bound throws.
      val ec = e
        .join(f.select(col("id").as("src"), col("f").as("fs")), "src")
        .join(f.select(col("id").as("dst"), col("f").as("fd")), "dst")
        .filter(col("fs") === col("fd"))
        .select("src", "dst")
        .transform(Checkpoints.cut)
      var m = f.filter(col("f") === col("id")).select("id")
        .transform(Checkpoints.cut)
      var frontier = m
      var fcount = frontier.count()
      it = 0
      while (fcount > 0 && it < iters) {
        it += 1
        val next = ec.join(frontier.select(col("id").as("dst")), "dst")
          .select(col("src").as("id")).distinct()
          .join(m, Seq("id"), "left_anti")
          .transform(Checkpoints.cut)
        m = m.unionAll(next)
        frontier = next
        fcount = frontier.count()
      }
      require(fcount == 0,
        s"SCC backward same-color sweep still expanding after iters=$iters " +
          s"steps (round $round) — raise iters; refusing to settle a " +
          "partially marked color class")
      // 3. settle marked vertices, shrink the subgraph
      val done = f.join(m, Seq("id"), "left_semi")
        .select(col("id"), col("f").as("scc_id"))
        .transform(Checkpoints.cut)
      settled = if (settled == null) done else settled.unionAll(done)
      verts = verts.join(done.select("id"), Seq("id"), "left_anti")
        .transform(Checkpoints.cut)
      e = e.join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
        .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
        .transform(Checkpoints.cut)
      remaining = verts.count()
    }
    require(remaining == 0,
      s"SCC did not settle $remaining vertices within rounds=$rounds " +
        s"iters=$iters — raise the bounds (condensation deeper than " +
        "expected); refusing to return a partial partition")
    settled
  }

  /** SCC with TRIM preprocessing (the FW-BW-Trim move, Hong et al. /
    * McLendon 2005): a vertex with no in-edges or no out-edges within
    * the live subgraph cannot sit on a directed cycle, so it is a
    * SINGLETON SCC — peel all of them, repeat. On mostly-acyclic
    * graphs (the restricted part-flow substrate is ~95% trimmable)
    * this removes nearly everything in cheap rounds — each trim round
    * is two semi joins, vs the coloring round's ~`iters` label-
    * propagation jobs — and the expensive PROVEN-convergence coloring
    * ([[stronglyConnectedComponents]]) runs only on the small cyclic
    * core. Trim is BEST-EFFORT: whatever survives `trimRounds` goes to
    * the coloring phase, which is correct regardless — the bound tunes
    * cost, never correctness (the coloring's own convergence proof
    * still throws rather than settle a split SCC). Equivalence with
    * the untrimmed operator is gated in GraphOpsSpec on random
    * digraphs.
    */
  def sccTrimmed(s: SparkSession, edges: DataFrame,
      trimRounds: Int, rounds: Int, iters: Int): DataFrame = {
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst")).distinct()
      .transform(Checkpoints.cut)
    var verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id")))
      .distinct().transform(Checkpoints.cut)
    var trimmed: DataFrame = null
    var it = 0
    var changed = true
    while (changed && it < trimRounds) {
      it += 1
      // vertices with BOTH an in- and an out-edge in the live subgraph
      // (r20: a union + flag-agg single-shuffle form was A/B'd and lost
      // by ~4% — the two distincts dedupe map-side and join
      // co-partitioned, so they are already the cheaper shape)
      val live = e.select(col("src").as("id")).distinct()
        .join(e.select(col("dst").as("id")).distinct(), Seq("id"),
          "left_semi")
        .transform(Checkpoints.cut)
      val peeled = verts.join(live, Seq("id"), "left_anti")
        .select(col("id"), col("id").as("scc_id"))
        .transform(Checkpoints.cut)
      val nPeeled = peeled.count()
      changed = nPeeled > 0
      if (changed) {
        trimmed = if (trimmed == null) peeled else trimmed.unionAll(peeled)
        // live ⊆ verts by construction (every live id is an endpoint of a
        // live edge), so `verts ⋉ live` IS live — reuse the cut frame
        // instead of materializing a third per-round checkpoint (r20).
        verts = live
        e = e.join(verts.select(col("id").as("src")), Seq("src"), "left_semi")
          .join(verts.select(col("id").as("dst")), Seq("dst"), "left_semi")
          .transform(Checkpoints.cut)
      }
    }
    val core =
      if (verts.isEmpty) null
      else stronglyConnectedComponents(s, e, rounds, iters)
    (trimmed, core) match {
      case (null, null) => s.range(0)
        .select(col("id"), col("id").as("scc_id"))
      case (t, null) => t
      case (null, c) => c
      case (t, c) => t.unionAll(c)
    }
  }

  /** Directed part-flow graph: within each order, the part on line i
    * points at the part on line i+1 (lineitem's l_linenumber sequencing).
    * Opposing precedence across different orders creates genuine directed
    * cycles, making this the repo's nontrivial-SCC fixture. One window
    * shuffle on l_orderkey, then distinct.
    */
  def partFlowEdges(s: SparkSession, dir: String): DataFrame = {
    // (l_orderkey, l_linenumber) is NOT unique in the fixtures (11785
    // duplicate groups at sf0.01) — without the l_partkey tie-break the
    // lead() order is engine- and partitioning-dependent and the edge
    // set silently drifts (surfaced by g29's reciprocity count; g23's
    // SCC labels happened to absorb it). Both oracles order the same way.
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey")
    graft.Tables.load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      .withColumn("nxt", lead(col("l_partkey"), 1).over(w))
      .filter(col("nxt").isNotNull && col("l_partkey") =!= col("nxt"))
      .select(col("l_partkey").as("src"), col("nxt").as("dst"))
      .distinct()
  }

  /** G25 — link prediction over an undirected graph given as canonical
    * `(x < y)` pairs: for every NON-adjacent pair with at least one
    * common neighbor, the common-neighbor count `cn` and the Resource
    * Allocation index `ra_e9 = Σ_z 10^9 div deg(z)` over common
    * neighbors z (Zhou/Lü/Zhang 2009's RA — the same neighborhood
    * weighting as Adamic-Adar, but 1/deg instead of 1/ln(deg), kept in
    * EXACT integer arithmetic: `ln` is libm-dependent and a float sum
    * is order-dependent, either of which would break cross-engine
    * hashing). Top `topK` by (cn, ra_e9) with the unique (x, y) as the
    * total-order tie-break.
    *
    * ONE shuffle builds per-center sorted neighbor lists (the
    * [[copartPairs]] idiom), each center expands its wedge pairs
    * in-row with codegen HOFs carrying the center's 1/deg contribution,
    * and the score groupBy + candidate anti join against the edge set
    * are plain hash shuffles on the pair key. Wedge fan-out is
    * Σ deg(z)², the triangle-enumeration bound: at 100 TB a skewed hub
    * would cap or sample its neighbor list (the [[kTrussPeel]]
    * degree-orientation move); the contract graph's restricted degrees
    * don't need it.
    */
  def linkPrediction(s: SparkSession, pairs: DataFrame, topK: Int): DataFrame = {
    val ed = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
    val wedges = ed.groupBy("src")
      .agg(sort_array(collect_set(col("dst"))).as("ns"))
      // canonical pairs are distinct, so deg == size(ns) exactly
      .select(explode(flatten(transform(col("ns"), (a, i) =>
          transform(slice(col("ns"), i + lit(2), size(col("ns"))),
            b => struct(a.as("a"), b.as("b")))))).as("p"),
        expr("1000000000 div size(ns)").as("contrib"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("contrib"))
    wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"), sum(col("contrib")).as("ra_e9"))
      .join(pairs, col("a") === col("x") && col("b") === col("y"),
        "left_anti")
      .select(col("a").as("x"), col("b").as("y"), col("cn"), col("ra_e9"))
      .orderBy(col("cn").desc, col("ra_e9").desc, col("x").asc,
        col("y").asc)
      .limit(topK)
  }

  /** G30 — neighborhood Jaccard similarity over canonical `x < y` pairs:
    * for every vertex pair sharing ≥1 neighbor, `|N∩|`, `|N∪|` and the
    * exact-integer ratio `jac_e6 = 10^6·cn div un` — the structural
    * vertex-similarity read behind "customers like this one" and role
    * clustering. Unlike G25 (which scores NON-adjacent pairs for link
    * prediction), adjacency doesn't gate membership here: similarity is
    * a property of the neighborhoods themselves.
    *
    * Plan: one shuffle to sorted neighbor lists, in-row wedge expansion
    * (each common neighbor emits its pair once, so the pair-keyed count
    * IS |N∩| — no per-pair set intersection materializes), then two
    * degree lookups; `un` by inclusion-exclusion. The wedge fan-out is
    * Σ deg², the triangle/G25 budget, bounded by the same degree-cap
    * reasoning; at skew scale the hub split of [[clusteringCoefficients]]
    * applies unchanged.
    */
  def neighborhoodJaccard(pairs: DataFrame, topK: Int): DataFrame = {
    val ed = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
    val deg = ed.groupBy("src").agg(count(lit(1)).as("deg"))
    val cn = ed.groupBy("src")
      .agg(sort_array(collect_set(col("dst"))).as("ns"))
      .select(explode(flatten(transform(col("ns"), (a, i) =>
          transform(slice(col("ns"), i + lit(2), size(col("ns"))),
            b => struct(a.as("a"), b.as("b")))))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("cn"))
    cn.join(deg.select(col("src").as("a"), col("deg").as("deg_a")), "a")
      .join(deg.select(col("src").as("b"), col("deg").as("deg_b")), "b")
      .select(col("a").as("x"), col("b").as("y"), col("cn"),
        (col("deg_a") + col("deg_b") - col("cn")).as("un"))
      .withColumn("jac_e6", expr("1000000 * cn div un"))
      .orderBy(col("jac_e6").desc, col("cn").desc, col("x").asc,
        col("y").asc)
      .limit(topK)
  }

  /** G26 — modularity of a vertex partition over an undirected graph
    * (canonical `x < y` pairs + a `(id, label)` community assignment),
    * kept EXACT: per community c the row
    * `(community, n_vertices, e_in, deg_sum, q_num)` where
    * `q_num = 4·m·e_in − deg_sum²` — Newman's Q is `Σ_c q_num / (4m²)`,
    * left as an integer numerator so the quality of two partitions
    * compares without a float in sight (the caller divides once for
    * display). `e_in` counts edges with BOTH endpoints in c;
    * cross-community edges contribute to neither side's e_in but to
    * both deg_sums — exactly the penalty structure of Q.
    *
    * Plan: degree agg + two label lookups on the pair list (vertex-keyed
    * shuffles), the community groupBy, and the 1-row edge count
    * broadcast onto the community table (the HITS/PageRank norm-fetch
    * pattern — no driver barrier). At 100 TB all joins key on vertex or
    * label and co-locate under the same bucketing as the traversals.
    */
  def modularity(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
    val m = pairs.agg(count(lit(1)).as("m"))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // LEFT join + coalesce: an isolated vertex (no incident edge) still
    // belongs to its community — an inner join would undercount
    // n_vertices and silently drop an all-isolated community, making Q
    // comparisons run over different vertex sets with no error raised.
    val comm = labels.join(deg, labels("id") === deg("src"), "left_outer")
      .withColumn("deg", coalesce(col("deg"), lit(0L)))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vertices"), sum("deg").as("deg_sum"))
    val eIn = pairs
      .join(labels.select(col("id").as("x"), col("label").as("lx")), "x")
      .join(labels.select(col("id").as("y"), col("label").as("ly")), "y")
      .filter(col("lx") === col("ly"))
      .groupBy("lx").agg(count(lit(1)).as("e_in"))
      .withColumnRenamed("lx", "label")
    comm.join(eIn, Seq("label"), "left_outer")
      .crossJoin(broadcast(m))
      .select(col("label").as("community"), col("n_vertices"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"),
        (lit(4L) * col("m") * coalesce(col("e_in"), lit(0L))
          - col("deg_sum") * col("deg_sum")).as("q_num"))
  }

  /** G40 — one Louvain LEVEL, distributed and deterministic: `rounds`
    * bounded SYNCHRONOUS rounds of greedy modularity moves over the
    * canonical `(x < y)` pair list. Every vertex starts in its own
    * community; each round every vertex evaluates, for each NEIGHBORING
    * community B ≠ its current A, the exact-integer modularity gain of
    * moving there and takes the best strictly-positive one (tie-break:
    * gain desc, community asc — the g13 determinism discipline, which is
    * what makes the k-round result SQL-expressible and hash-oracle-able
    * against an unrolled DuckDB replay).
    *
    * Gain algebra (all integers — [[modularity]]'s q_num scale, Δ of
    * 4m²·Q): moving v (degree d_v) from A to B changes
    *   Δ = 4m·(k_vB − k_vA) − 2·d_v·(deg_B − deg_A + d_v)
    * where k_vC = v's neighbor count inside C (v ∉ C terms are automatic:
    * no self-loops), deg_A/deg_B are the CURRENT community degree sums
    * (v still counted in A). Products are widened to decimal(38,0)
    * (4m·k crosses 2^63 within the suite's 100 TB design point; DuckDB
    * widens to HUGEINT — the q51/q52 discipline).
    *
    * Sequential Louvain moves one vertex at a time and is monotone in Q;
    * the synchronous variant trades that guarantee for distribution and
    * takes bounded rounds instead (GraphOpsSpec pins monotone Q on a
    * two-community fixture and convergence to the planted partition).
    * Plan shape per round: degree-sum agg (community-keyed), one
    * edge×label join for the k_vC counts (vertex-keyed, the LPA round
    * shape), two broadcast-size degsum lookups, one argmax window.
    * Labels are checkpointed each round — a round reads them four times,
    * so a lazy unroll would re-execute the prior round's subtree 4^r
    * times (the kCorePeelDF lesson).
    */
  def louvainOneLevel(s: SparkSession, pairs: DataFrame, rounds: Int)
      : DataFrame = {
    val p = pairs.select("x", "y").transform(Checkpoints.cut)
    val e = p.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(p.select(col("y").as("src"), col("x").as("dst")))
      .transform(Checkpoints.cut)
    val mDf = p.agg(count(lit(1)).as("m"))
    val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      .transform(Checkpoints.cut)
    var labels = deg.select(col("id"), col("id").as("community"))
    var converged = false // gain-adaptive: stop on a zero-move round
    for (_ <- 1 to rounds if !converged) {
      val degSum = labels.join(deg, "id").groupBy("community")
        .agg(sum("deg").as("degsum"))
      val kv = e.join(labels.select(col("id").as("dst"),
          col("community").as("cand")), "dst")
        .groupBy(col("src").as("id"), col("cand"))
        .agg(count(lit(1)).as("k"))
        .transform(Checkpoints.cut) // read twice: candidates + k_vA lookup
      val ka = kv.join(labels, "id")
        .filter(col("cand") === col("community"))
        .select(col("id"), col("k").as("k_a"))
      val best = kv.join(labels, "id")
        .filter(col("cand") =!= col("community"))
        .join(deg, "id")
        .join(degSum.withColumnRenamed("degsum", "degsum_a"), "community")
        .join(degSum.select(col("community").as("cand"),
          col("degsum").as("degsum_b")), "cand")
        .join(ka, Seq("id"), "left_outer")
        .crossJoin(broadcast(mDf))
        .withColumn("gain", expr(
          """4 * CAST(m AS DECIMAL(38,0)) * (k - coalesce(k_a, 0)) -
            |2 * CAST(deg AS DECIMAL(38,0)) *
            |  (degsum_b - degsum_a + deg)""".stripMargin))
        .filter(col("gain") > 0)
        .withColumn("__rn", row_number().over(Window.partitionBy("id")
          .orderBy(col("gain").desc, col("cand").asc)))
        .filter(col("__rn") === 1)
        .select(col("id"), col("cand"))
        .transform(Checkpoints.cut) // read twice: the exit probe + apply
      // a converged round recomputes an identical empty move set, so
      // skipping the tail rounds cannot change the result (the unrolled
      // oracle replays them as no-ops) — at 100 TB each skipped round
      // is a full edge-shuffle saved
      if (best.limit(1).count() == 0L) converged = true
      else labels = labels.join(best, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("cand"), col("community")).as("community"))
        .transform(Checkpoints.cut)
    }
    labels
  }

  /** One WEIGHTED Louvain level over an edge-weighted quotient graph —
    * the engine [[louvainTwoLevel]] runs on the contracted communities.
    * Inputs: `verts (id)` — EVERY quotient vertex (a community whose
    * edges are all internal has no row in `wpairs` and must not vanish),
    * `wpairs (x < y, w)` — inter-vertex multiplicities, `selfLoops
    * (id, sl)` — intra-community edge counts, and `mDf (m)` — the
    * ORIGINAL graph's undirected edge count (contraction preserves total
    * weight: Σw + Σsl = m, so modularity across levels shares one scale).
    *
    * Same synchronous gain algebra as [[louvainOneLevel]] with weighted
    * terms: d_v = Σ incident w + 2·sl_v (a self-loop contributes twice
    * to its vertex's degree), k_vC = Σ w(v→C) (v's self-loop moves with
    * v and cancels in Δ — the 4m·(k_vB−k_vA) term never sees it):
    *   Δ(4m²Q) = 4m·(k_vB − k_vA) − 2·d_v·(deg_B − deg_A + d_v)
    * — the sl terms drop out of e_in deltas exactly as in the unweighted
    * derivation, so the formula is unchanged; only k and deg gain
    * weights. Tie-break (gain desc, community asc) and the decimal(38,0)
    * widening are the louvainOneLevel discipline, which keeps the
    * two-level composite hash-oracle-able against an unrolled DuckDB
    * replay.
    *
    * One rule the unweighted level doesn't need: SWAP SUPPRESSION.
    * Every quotient vertex starts as a singleton community, so two
    * mutually-best neighbors generically pick EACH OTHER's community
    * and a synchronous round swaps their labels instead of merging them
    * (then swaps back — the fold oscillates with net-zero movement;
    * observed on every fragment-pair quotient, where it silently turns
    * level 2 into a no-op). The guard: a move A→B is blocked when
    * A > B and some vertex is simultaneously moving B→A — the lower-id-
    * source half of every reciprocal pair proceeds, so the pair MERGES
    * (into the higher id: the survivor is the A→B move with A < B).
    * Suppressing moves is always safe (the applied set is a subset of
    * the gain-positive set) and the rule is deterministic, hence
    * replayable in the oracle's al-CTE. Longer move cycles (A→B→C→A)
    * are not suppressed — rounds are bounded, determinism is what
    * matters. Plan shape per round is otherwise identical to
    * louvainOneLevel: community-keyed degsum agg, one vertex-keyed
    * edge×label join, broadcast m, argmax window, plus one
    * (community-pair)-keyed self-join over the round's move list
    * (≤ one row per vertex) for the guard — the quotient graph is
    * SMALLER than the input (≤ one vertex per level-1 community), so
    * each level-2 round costs strictly less than a level-1 round at any
    * scale.
    */
  def louvainLevelWeighted(s: SparkSession, verts: DataFrame,
      wpairs: DataFrame, selfLoops: DataFrame, mDf: DataFrame, rounds: Int)
      : DataFrame = {
    val p = wpairs.select("x", "y", "w").transform(Checkpoints.cut)
    val e = p.select(col("x").as("src"), col("y").as("dst"), col("w"))
      .unionAll(p.select(col("y").as("src"), col("x").as("dst"), col("w")))
      .transform(Checkpoints.cut)
    val wsum = e.groupBy(col("src").as("id")).agg(sum("w").as("wsum"))
    val deg = verts.select("id")
      .join(wsum, Seq("id"), "left_outer")
      .join(selfLoops.select(col("id"), col("sl")), Seq("id"), "left_outer")
      .select(col("id"), (coalesce(col("wsum"), lit(0L))
        + lit(2L) * coalesce(col("sl"), lit(0L))).as("deg"))
      .transform(Checkpoints.cut)
    var labels = deg.select(col("id"), col("id").as("community"))
    var converged = false // gain-adaptive: stop on a zero-move round
    for (_ <- 1 to rounds if !converged) {
      val degSum = labels.join(deg, "id").groupBy("community")
        .agg(sum("deg").as("degsum"))
      val kv = e.join(labels.select(col("id").as("dst"),
          col("community").as("cand")), "dst")
        .groupBy(col("src").as("id"), col("cand"))
        .agg(sum("w").as("k"))
        .transform(Checkpoints.cut) // read twice: candidates + k_vA lookup
      val ka = kv.join(labels, "id")
        .filter(col("cand") === col("community"))
        .select(col("id"), col("k").as("k_a"))
      val best = kv.join(labels, "id")
        .filter(col("cand") =!= col("community"))
        .join(deg, "id")
        .join(degSum.withColumnRenamed("degsum", "degsum_a"), "community")
        .join(degSum.select(col("community").as("cand"),
          col("degsum").as("degsum_b")), "cand")
        .join(ka, Seq("id"), "left_outer")
        .crossJoin(broadcast(mDf))
        .withColumn("gain", expr(
          """4 * CAST(m AS DECIMAL(38,0)) * (k - coalesce(k_a, 0)) -
            |2 * CAST(deg AS DECIMAL(38,0)) *
            |  (degsum_b - degsum_a + deg)""".stripMargin))
        .filter(col("gain") > 0)
        .withColumn("__rn", row_number().over(Window.partitionBy("id")
          .orderBy(col("gain").desc, col("cand").asc)))
        .filter(col("__rn") === 1)
        .select(col("id"), col("community").as("ca"), col("cand"))
        .transform(Checkpoints.cut) // read twice: recip pairs + the guard
      val movedPairs = best.select(col("ca"), col("cand").as("cb")).distinct()
      val blocked = movedPairs
        .join(movedPairs.select(col("ca").as("rb"), col("cb").as("ra")),
          col("ca") === col("ra") && col("cb") === col("rb"))
        .filter(col("ca") > col("cb"))
        .select(col("ca"), col("cb"))
      val applied = best.join(blocked,
          best("ca") === blocked("ca") && best("cand") === blocked("cb"),
          "left_anti")
        .select(col("id"), col("cand"))
        .transform(Checkpoints.cut) // read twice: the exit probe + apply
      // applied is empty iff best is (every blocked move's reciprocal —
      // the ca < cb half — proceeds), so the zero-move exit is exactly
      // convergence and the unrolled oracle's tail rounds are no-ops
      if (applied.limit(1).count() == 0L) converged = true
      else labels = labels.join(applied, Seq("id"), "left_outer")
        .select(col("id"),
          coalesce(col("cand"), col("community")).as("community"))
        .transform(Checkpoints.cut)
    }
    labels
  }

  /** G40d — Louvain over a USER-SUPPLIED edge-weight column: the
    * public weighted-graph surface of [[louvainLevelWeighted]] (until
    * r14 the weighted level only ran on internally contracted
    * quotients). `wpairs` is canonical `(x < y, w)` with integer
    * weights; m = Σw (the weighted modularity scale — for a weighted
    * graph the 4m² denominator is total WEIGHT, which reduces to edge
    * count when w ≡ 1), no self-loops. Same exact-integer gain,
    * tie-break, and swap-suppression determinism, hence the same
    * unrolled-replay oracle discipline.
    */
  def louvainWeightedGraph(s: SparkSession, wpairs: DataFrame,
      rounds: Int): DataFrame = {
    val p = wpairs.select("x", "y", "w").transform(Checkpoints.cut)
    val verts = p.select(col("x").as("id"))
      .unionAll(p.select(col("y").as("id"))).distinct()
    val mDf = p.agg(sum("w").as("m"))
    val noLoops = p.select(col("x").as("id"), lit(0L).as("sl")).limit(0)
    louvainLevelWeighted(s, verts, p, noLoops, mDf, rounds)
  }

  /** G40e — WEIGHTED Louvain TO CONVERGENCE: [[louvainMultiLevel]]'s
    * contract-and-refine loop seeded from [[louvainWeightedGraph]], so
    * a user-supplied edge-weight column gets the full algorithm, not
    * just one level. Contraction sums the ORIGINAL weights by the
    * composed label map (inter-community w-sums become quotient
    * weights, intra-community w-sums become self-loops; m = Σw is
    * preserved, so every level shares one 4m² modularity scale); the
    * zero-move fixpoint exit and the unrolled-replay oracle argument
    * are [[louvainMultiLevel]]'s verbatim.
    */
  def louvainMultiLevelWeighted(s: SparkSession, wpairs: DataFrame,
      rounds: Int, maxLevels: Int): DataFrame = {
    require(maxLevels >= 1, "maxLevels must be >= 1")
    val p = wpairs.select("x", "y", "w").transform(Checkpoints.cut)
    val mDf = p.agg(sum("w").as("m"))
    var labels = louvainWeightedGraph(s, p, rounds)
      .transform(Checkpoints.cut)
    var level = 1
    var moved = true
    while (moved && level < maxLevels) {
      val tagged = p
        .join(labels.select(col("id").as("x"), col("community").as("cx")),
          "x")
        .join(labels.select(col("id").as("y"), col("community").as("cy")),
          "y")
        .transform(Checkpoints.cut) // read twice: quotient edges + loops
      val qp = tagged.filter(col("cx") =!= col("cy"))
        .select(least(col("cx"), col("cy")).as("x"),
          greatest(col("cx"), col("cy")).as("y"), col("w"))
        .groupBy("x", "y").agg(sum("w").as("w"))
      val qsl = tagged.filter(col("cx") === col("cy"))
        .groupBy(col("cx").as("id")).agg(sum("w").as("sl"))
      val qverts = labels.select(col("community").as("id")).distinct()
      val lk = louvainLevelWeighted(s, qverts, qp, qsl, mDf, rounds)
        .transform(Checkpoints.cut) // read twice: exit probe + compose
      moved = lk.filter(col("community") =!= col("id"))
        .limit(1).count() > 0L
      if (moved) {
        labels = labels.join(lk.select(col("id").as("community"),
            col("community").as("c2")), "community")
          .select(col("id"), col("c2").as("community"))
          .transform(Checkpoints.cut)
        level += 1
      }
    }
    labels
  }

  /** G40b — MULTI-LEVEL Louvain (two levels, the full algorithm's
    * level-contract-repeat step): run [[louvainOneLevel]], CONTRACT its
    * communities into a weighted quotient graph (groupBy on the
    * community pair — inter-community multiplicities become edge
    * weights, intra-community edges become self-loops), run
    * [[louvainLevelWeighted]] on the quotient, and compose the label
    * maps so every original vertex lands in its level-2 community.
    * This is what separates a community DETECTOR from a community
    * refiner: level 1 alone leaves adjacent micro-communities unmerged
    * whenever no single vertex move bridges them, while the quotient
    * move relocates a whole community at once (GraphOpsSpec pins a
    * clique-chain where exactly that merge happens and Q strictly
    * rises).
    *
    * m is passed through unchanged — contraction preserves total edge
    * weight, so level-2 gains are denominated in the SAME 4m² modularity
    * scale and Q comparisons across levels are exact-integer.
    *
    * Scale: the contraction is one groupBy over the edge list keyed by
    * (community_x, community_y) after two vertex-keyed label joins — the
    * LPA round shape, no new shuffle class; the quotient has ≤ one
    * vertex per community, so level 2 runs on a graph typically orders
    * of magnitude smaller than the input. At 100 TB the level-1 rounds
    * dominate and the added level is ~free.
    */
  def louvainTwoLevel(s: SparkSession, pairs: DataFrame, rounds: Int)
      : DataFrame = {
    val p = pairs.select("x", "y").transform(Checkpoints.cut)
    val l1 = louvainOneLevel(s, p, rounds).transform(Checkpoints.cut)
    val mDf = p.agg(count(lit(1)).as("m"))
    val tagged = p
      .join(l1.select(col("id").as("x"), col("community").as("cx")), "x")
      .join(l1.select(col("id").as("y"), col("community").as("cy")), "y")
      .transform(Checkpoints.cut) // read twice: quotient edges + self-loops
    val qp = tagged.filter(col("cx") =!= col("cy"))
      .select(least(col("cx"), col("cy")).as("x"),
        greatest(col("cx"), col("cy")).as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("w"))
    val qsl = tagged.filter(col("cx") === col("cy"))
      .groupBy(col("cx").as("id")).agg(count(lit(1)).as("sl"))
    val qverts = l1.select(col("community").as("id")).distinct()
    val l2 = louvainLevelWeighted(s, qverts, qp, qsl, mDf, rounds)
    l1.join(l2.select(col("id").as("community"), col("community").as("c2")),
        "community")
      .select(col("id"), col("c2").as("community"))
  }

  /** G40c — Louvain TO CONVERGENCE (the full algorithm): repeat the
    * contract-and-refine level step while it still MOVES anything, up to
    * `maxLevels`. Each level contracts the ORIGINAL edge list by the
    * COMPOSED label map (equivalent to contracting the previous
    * quotient — edge multiplicities between composed communities are
    * sums of quotient weights — but with one fewer moving part and the
    * oracle replays it the same way), runs the weighted level on the
    * quotient, and stops as soon as a level applies zero moves: a
    * no-move level is the fixed point (the next quotient would be
    * IDENTICAL, so every later level is a no-op — which is also why the
    * unrolled replay oracle, which always runs maxLevels levels, gets
    * the same labels). Q never decreases across levels: every applied
    * move has a positive exact-integer gain on the SAME 4m² scale
    * (contraction preserves total weight).
    *
    * Scale: each level's quotient has ≤ one vertex per community —
    * geometric shrink in practice — so level 1 dominates and the
    * convergence loop costs little beyond louvainTwoLevel; the
    * early-exit probe is one count on the checkpointed level labels.
    * The level count is data-dependent but bounded (maxLevels), the
    * per-level plan is the bounded-rounds LPA shape, and determinism
    * (tie-breaks, swap suppression) is preserved level over level, so
    * the composite stays hash-replayable.
    */
  def louvainMultiLevel(s: SparkSession, pairs: DataFrame, rounds: Int,
      maxLevels: Int): DataFrame = {
    require(maxLevels >= 1, "maxLevels must be >= 1")
    val p = pairs.select("x", "y").transform(Checkpoints.cut)
    val mDf = p.agg(count(lit(1)).as("m"))
    var labels = louvainOneLevel(s, p, rounds).transform(Checkpoints.cut)
    var level = 1
    var moved = true
    while (moved && level < maxLevels) {
      val tagged = p
        .join(labels.select(col("id").as("x"), col("community").as("cx")),
          "x")
        .join(labels.select(col("id").as("y"), col("community").as("cy")),
          "y")
        .transform(Checkpoints.cut) // read twice: quotient edges + loops
      val qp = tagged.filter(col("cx") =!= col("cy"))
        .select(least(col("cx"), col("cy")).as("x"),
          greatest(col("cx"), col("cy")).as("y"))
        .groupBy("x", "y").agg(count(lit(1)).as("w"))
      val qsl = tagged.filter(col("cx") === col("cy"))
        .groupBy(col("cx").as("id")).agg(count(lit(1)).as("sl"))
      val qverts = labels.select(col("community").as("id")).distinct()
      val lk = louvainLevelWeighted(s, qverts, qp, qsl, mDf, rounds)
        .transform(Checkpoints.cut) // read twice: the exit probe + compose
      moved = lk.filter(col("community") =!= col("id"))
        .limit(1).count() > 0L
      if (moved) {
        labels = labels.join(lk.select(col("id").as("community"),
            col("community").as("c2")), "community")
          .select(col("id"), col("c2").as("community"))
          .transform(Checkpoints.cut)
        level += 1
      }
    }
    labels
  }

  /** Per-vertex triangle counts over canonical `(x < y)` pairs: each
    * triangle (a<b<c) is found ONCE by the ab⋈bc⋈ac wedge-close join
    * and credited to all three corners. Returns (id, n_triangles) for
    * vertices in at least one triangle (regardless of degree). The
    * shared kernel under G27's clustering coefficients and the
    * `triangles_per_vertex` TVF (r19 — the SQL door for the per-vertex
    * cohesion family). On a skewed graph the enumeration wants the
    * [[kTrussPeel]] degree-ordered orientation (bounding wedge fan-out
    * by oriented out-degree); the restricted contract graph doesn't
    * need it.
    */
  def trianglesPerVertex(pairs: DataFrame): DataFrame =
    triangles(pairs).select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("n_triangles"))

  /** Every triangle (a<b<c) of canonical `(x < y)` pairs, once, by the
    * ab⋈bc⋈ac wedge-close join.
    */
  private def triangles(pairs: DataFrame): DataFrame =
    pairs.as("ab")
      .join(pairs.as("bc"), col("ab.y") === col("bc.x"))
      .join(pairs.as("ac"),
        col("ac.x") === col("ab.x") && col("ac.y") === col("bc.y"))
      .select(col("ab.x").as("a"), col("ab.y").as("b"), col("bc.y").as("c"))

  /** G27 — local clustering coefficient per vertex over canonical
    * `(x < y)` pairs: `coeff_e6 = 10^6 · n_triangles div n_wedges` with
    * `n_wedges = deg·(deg−1)/2` — all integer, so the per-vertex
    * cohesion read hash-matches cross-engine (the float ratio is kept
    * to the caller). Only vertices with ≥2 neighbors appear (a vertex
    * with no wedge has no defined coefficient — emitting 0 would
    * conflate "no opportunity" with "no closure"). Per-vertex counts
    * come from ONE explode of each [[trianglesPerVertex]] triangle's
    * three corners.
    */
  def clusteringCoefficients(pairs: DataFrame): DataFrame = {
    val triPerV = trianglesPerVertex(pairs)
    val deg = pairs.select(col("x").as("id"))
      .unionAll(pairs.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.filter(col("deg") >= 2)
      .join(triPerV, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        expr("deg * (deg - 1) div 2").as("n_wedges"),
        expr("1000000 * coalesce(n_triangles, 0)" +
          " div (deg * (deg - 1) div 2)").as("coeff_e6"))
  }

  /** G28 — degree-assortativity MOMENTS over canonical `(x < y)` pairs:
    * one row of exact integer sums over the directed edge list (both
    * directions) — `m, Σxy, Σx, Σy, Σx², Σy²` with x = deg(src),
    * y = deg(dst). Newman's assortativity coefficient is
    * `r = (m·Σxy − Σx·Σy) / √((m·Σx² − Σx²)·(m·Σy² − Σy²))` — the ONE
    * float division left to the caller, so the moments hash-match
    * cross-engine and two graphs compare without rounding drift
    * (a path gives exactly r = −1, pinned in GraphOpsSpec). Plan:
    * degree agg + two vertex-keyed joins + a global agg — no shuffle
    * wider than the edge list.
    */
  def assortativityMoments(pairs: DataFrame): DataFrame = {
    val ed = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
    val deg = ed.groupBy("src").agg(count(lit(1)).as("d"))
    ed.join(deg.select(col("src").as("u"), col("d").as("dx")),
        col("src") === col("u"))
      .join(deg.select(col("src").as("v"), col("d").as("dy")),
        col("dst") === col("v"))
      .agg(count(lit(1)).as("m"),
        sum(col("dx") * col("dy")).as("sum_xy"),
        sum(col("dx")).as("sum_x"), sum(col("dy")).as("sum_y"),
        sum(col("dx") * col("dx")).as("sum_x2"),
        sum(col("dy") * col("dy")).as("sum_y2"))
  }

  /** G29 — reciprocity counts of a DIRECTED edge list: one row
    * (n_edges, n_reciprocal) — of all distinct directed edges, how
    * many have their reverse present (a semi join against the swapped
    * list, no all-pairs anything); the ratio stays with the caller.
    * THE shared kernel: the registry query and the `reciprocity` TVF
    * splice this one plan (the katzX64 discipline).
    */
  def reciprocityCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(recip.agg(count(lit(1)).as("n_reciprocal")))
  }

  /** G33 — rich-club profile over a symmetric directed edge list:
    * per degree threshold k, the number of vertices with degree > k
    * (n_k), the undirected edge count among them (e_k), and
    * φ·10⁶ = 10⁶·2·e_k div (n_k·(n_k−1)) — Zhou/Mondragón's rich-club
    * coefficient as an exact integer. Histogram-sized joins broadcast;
    * thresholds with fewer than 2 qualifying vertices are omitted
    * (φ undefined). Shared by the registry query and the `rich_club`
    * TVF.
    */
  def richClub(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val em = edges
      .join(deg.select(col("id").as("src"), col("d").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("d").as("dd")), "dst")
      .select(least(col("ds"), col("dd")).as("m"))
    val nodeH = deg.groupBy("d").agg(count(lit(1)).as("nodes"))
    val edgeH = em.groupBy("m").agg(count(lit(1)).as("dedges"))
    val ks = nodeH.select(col("d").as("k"))
    val nk = ks.join(broadcast(nodeH), nodeH("d") > ks("k"))
      .groupBy("k").agg(sum("nodes").as("n_k"))
    val ek = ks.join(broadcast(edgeH), edgeH("m") > ks("k"))
      .groupBy("k").agg(expr("sum(dedges) div 2").as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .filter(col("n_k") >= 2)
      .select(col("k"), col("n_k"),
        coalesce(col("e_k"), lit(0L)).as("e_k"),
        expr("1000000 * 2 * coalesce(e_k, 0) div (n_k * (n_k - 1))")
          .as("phi_e6"))
  }

  /** G34 — SCC condensation of a directed edge list: the quotient
    * DAG's weighted edges (src_scc, dst_scc, n_edges) over the
    * trim-then-color SCC labels. Shared by the registry query and the
    * `condensation` TVF; callers order.
    */
  def condensationEdges(s: SparkSession, edges0: DataFrame,
      trimRounds: Int, rounds: Int, iters: Int): DataFrame = {
    val edges = edges0.transform(Checkpoints.cut) // labels + 2 lookups
    val labels = sccTrimmed(s, edges, trimRounds, rounds, iters)
    edges
      .join(labels.select(col("id").as("src"), col("scc_id").as("src_scc")),
        "src")
      .join(labels.select(col("id").as("dst"), col("scc_id").as("dst_scc")),
        "dst")
      .filter(col("src_scc") =!= col("dst_scc"))
      .groupBy("src_scc", "dst_scc")
      .agg(count(lit(1)).as("n_edges"))
  }

  /** G35 — bow-tie decomposition (Broder 2000) of a directed edge
    * list: every vertex classified against the giant SCC — core, in
    * (reaches it), out (reached from it), other — as (cls, n_vertices)
    * counts. Reachability from the core is ONE virtual super-source
    * (-1, outside the id domain) wired to every core member, then the
    * adaptive-frontier BFS to its fix point on the forward and
    * reversed lists — two traversals, never a closure. Shared by the
    * registry query and the `bowtie` TVF.
    */
  def bowtieProfile(s: SparkSession, edges0: DataFrame,
      trimRounds: Int, rounds: Int, iters: Int): DataFrame = {
    val edges = edges0.transform(Checkpoints.cut)
    val labels = sccTrimmed(s, edges, trimRounds, rounds, iters)
    // empty-input guard (ADVICE r18): a filtered-empty TABLE() subquery
    // reaches here at analysis time — return the empty profile instead
    // of throwing NoSuchElementException off the giant-SCC pick (the
    // same empty-input class as the bomRollup coalesce fix)
    val giantRow = labels.groupBy("scc_id").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("scc_id").asc).limit(1)
      .head(1)
    if (giantRow.isEmpty) {
      import s.implicits._
      return Seq.empty[(String, Long)].toDF("cls", "n_vertices")
    }
    val giant = giantRow.head.getLong(0)
    val core = labels.filter(col("scc_id") === giant).select("id")
    val seedEdges = core.select(lit(-1L).as("src"), col("id").as("dst"))
    val fromCore = bfsDepthsDF(s,
        edges.unionAll(seedEdges), seed = -1L, maxDepth = Int.MaxValue)
      .filter(col("id") =!= -1L).select("id")
    val rev = edges.select(col("dst").as("src"), col("src").as("dst"))
    val toCore = bfsDepthsDF(s,
        rev.unionAll(seedEdges), seed = -1L, maxDepth = Int.MaxValue)
      .filter(col("id") =!= -1L).select("id")
    labels.select("id")
      .join(core.withColumn("in_core", lit(1)), Seq("id"), "left")
      .join(toCore.withColumn("reaches", lit(1)), Seq("id"), "left")
      .join(fromCore.withColumn("reached", lit(1)), Seq("id"), "left")
      .select(when(col("in_core") === 1, "core")
        .when(col("reaches") === 1, "in")
        .when(col("reached") === 1, "out")
        .otherwise("other").as("cls"))
      .groupBy("cls").agg(count(lit(1)).as("n_vertices"))
  }

  /** G36 — hub-removal resilience curve over a symmetric directed
    * edge list: for each k in `ks`, delete the top-k degree hubs
    * (degree desc, id asc — deterministic) and re-measure the
    * edge-bearing survivors' component profile:
    * (k, n_live, n_components, giant_size). Each k is one bounded CC
    * run on an anti-joined edge list — nothing quadratic. Shared by
    * the registry query and the `resilience` TVF.
    */
  def resilienceCurve(s: SparkSession, edges0: DataFrame,
      ks: Seq[Int]): DataFrame = {
    val edges = edges0.transform(Checkpoints.cut)
    val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
    val rows = ks.map { k =>
      val hubs = deg.orderBy(col("d").desc, col("id").asc).limit(k)
      val e2 = edges
        .join(hubs.select(col("id").as("src")), Seq("src"), "left_anti")
        .join(hubs.select(col("id").as("dst")), Seq("dst"), "left_anti")
      val sizes = connectedComponentsDF(s, e2)
        .groupBy("component").agg(count(lit(1)).as("sz"))
      sizes.agg(lit(k).as("k"), sum("sz").as("n_live"),
        count(lit(1)).as("n_components"), max("sz").as("giant_size"))
    }
    rows.reduce(_ unionAll _)
  }

  /** G37 — bipartite projection: (group, item) observations projected
    * onto item pairs, weight = #groups sharing the pair, baskets
    * outside [minBasket, maxBasket] dropped (fan-out stays ≤ C(max,2)
    * per group — never catalog-quadratic), pairs below `minWeight`
    * dropped. Returns (x, y, w) with x < y. Shared by the registry
    * query and the `coproject` TVF; downstream component analysis
    * composes on top (the g37 read runs connected components over it).
    */
  def bipartiteProjection(rel: DataFrame, minBasket: Int, maxBasket: Int,
      minWeight: Long): DataFrame = {
    val baskets = rel.select(col("grp"), col("item")).distinct()
      .groupBy("grp")
      .agg(sort_array(collect_set(col("item"))).as("ps"))
      .filter(size(col("ps")).between(minBasket, maxBasket))
    // per-row memory is O(d), never O(d²) (ADVICE r18): the old form
    // materialized the full d×d struct array per basket BEFORE the x<y
    // filter — at max_basket=10000 that's ~1e8 structs in one row.
    // Two chained generators keep each intermediate row at one basket
    // array: posexplode yields (i, x), then the ascending-sorted tail
    // slice after position i IS exactly the x<y partner set (collect_set
    // + sort_array make ps strictly increasing).
    val pairs = baskets
      .select(posexplode(col("ps")).as(Seq("i", "x")), col("ps"))
      .select(col("x"), explode(slice(col("ps"), col("i") + lit(2),
        size(col("ps")) - col("i") - lit(1))).as("y"))
    pairs.groupBy("x", "y").agg(count(lit(1)).as("w"))
      .filter(col("w") >= minWeight)
  }

  /** Global triangle count of the undirected simple graph the `(x, y)`
    * pairs describe. The pairs are canonicalized first, as GraphX's
    * TriangleCount does internally: each oriented x < y, self-loops
    * dropped, duplicates removed. So reversed, repeated or self-loop
    * pairs count as their undirected edge. Then [[triangles]] finds each
    * triangle once.
    */
  def triangleCount(s: SparkSession, pairs: DataFrame): Long = {
    val (x, y) = (col("x").cast("long"), col("y").cast("long"))
    triangles(pairs.select(least(x, y).as("x"), greatest(x, y).as("y"))
      .filter(col("x") < col("y")).distinct()).count()
  }

  /** G32 — truncated Katz centrality, EXACT integers: walk counts of
    * length 1..3 ending at each vertex (c_{k+1} = A^T c_k — one edge
    * join + vertex groupBy per round, the sparse matvec shape that
    * scales as rounds × one shuffle), combined with attenuation β = 1/4
    * scaled by 4³: katz_x64 = 16·c1 + 4·c2 + c3. Integer walk counts
    * make the truncated Katz sum hash-exact — no float power iteration.
    * Returns (id, w1, w2, w3, katz_x64) for every vertex with at least
    * one inbound walk (w1 >= 1; a vertex with no in-edges has Katz 0
    * and is omitted); w2/w3 LEFT-join and coalesce to 0 — on a DAG most
    * vertices lack length-2/3 walks and an inner join would silently
    * drop them (r16 review fix; on both-directions substrates like
    * g32's co-part graph every reached vertex has walks of all three
    * lengths, so the g32 result is unchanged). Ranking/limits stay with
    * the caller. Edges are checkpoint-cut internally (three walk rounds
    * re-read them).
    */
  def katzX64(edges0: DataFrame): DataFrame = {
    val edges = edges0.select("src", "dst").transform(Checkpoints.cut)
    val c1 = edges.groupBy(col("dst").as("id")).agg(count(lit(1)).as("c"))
    def step(prev: DataFrame): DataFrame =
      edges.join(prev.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum("c").as("c"))
    val c2 = step(c1)
    val c3 = step(c2)
    c1.select(col("id"), col("c").as("w1"))
      .join(c2.select(col("id"), col("c").as("w2")), Seq("id"), "left_outer")
      .join(c3.select(col("id"), col("c").as("w3")), Seq("id"), "left_outer")
      .select(col("id"), col("w1"),
        coalesce(col("w2"), lit(0L)).as("w2"),
        coalesce(col("w3"), lit(0L)).as("w3"),
        (col("w1") * 16 + coalesce(col("w2"), lit(0L)) * 4 +
          coalesce(col("w3"), lit(0L))).as("katz_x64"))
  }

  /** Static PageRank as pure DataFrame power iteration — the
    * Catalyst-native twin of GraphX's `staticPageRank` (ToleranceSpec
    * asserts, against the test-scope `GraphXOracles.pageRank`,
    * agreement within 1e-6 and identical top-20 order). Replicates
    * `staticPageRank`'s recurrence exactly: rank0 = 1, rank' =
    * 0.15 + 0.85·Σ rank(u)/outdeg(u), dangling mass not redistributed,
    * final ranks rescaled so they sum to the vertex count (SPARK-18847).
    *
    * Per iteration: one join shuffle (contributions) + one agg shuffle
    * (message sum) over Tungsten rows. At 100 TB, bucket `edges` by src
    * and the rank table by id so the join side stays co-located; the
    * iteration count is fixed, so total cost is iters × O(|E|) with no
    * convergence-test jobs.
    */
  def pageRankDF(s: SparkSession, edges: DataFrame, iters: Int,
      materialize: Boolean = true): DataFrame = {
    // `materialize = false` skips the edge-list lineage cut — pass it when
    // `edges` is already materialized (cached/checkpointed/bucketed), the
    // same contract as [[kHopIds]]; the cut is load-bearing when the edge
    // derivation is itself expensive (it is read three times below).
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
    val e = if (materialize) e0.transform(Checkpoints.cut) else e0
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct().transform(Checkpoints.cut)
    val weighted = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .transform(Checkpoints.cut)
    var ranks = verts.withColumn("rank", lit(1.0))
    for (i <- 1 to iters) {
      val contribs = weighted
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("msum"))
      ranks = verts.join(contribs, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(0.15) + lit(0.85) * coalesce(col("msum"), lit(0.0)))
            .as("rank"))
      // checkpoint every OTHER iteration: a 2-deep lineage plans fine and
      // this halves the materialization jobs (same total compute)
      if (i % 2 == 0 || i == iters) ranks = ranks.transform(Checkpoints.cut)
    }
    // SPARK-18847 rescale folded INTO the plan as a broadcast 1-row
    // aggregate instead of a driver `.head()` barrier: the returned frame
    // is fully lazy and the rescale costs one cheap re-scan of the
    // checkpointed ranks inside the consumer's own job.
    val st = ranks.agg(
      (count(lit(1)).cast("double") / sum(col("rank"))).as("__scale"))
    ranks.crossJoin(broadcast(st))
      .select(col("id"), (col("rank") * col("__scale")).as("rank"))
  }

  /** G08b — personalized PageRank as pure DataFrame power iteration,
    * replicating `staticPersonalizedPageRank`'s recurrence exactly:
    * rank0 = 1{id=seed}; rank' = 0.15·1{id=seed} + 0.85·Σ rank(u)/deg(u);
    * final L1 normalization, folded lazily into the plan (SPARK-18847
    * normalizes personalized ranks to sum 1). The "which parts of the
    * graph matter to THIS entity" query a property-graph user asks — same
    * per-iteration plan shape and 100 TB bucketing story as
    * [[pageRankDF]].
    */
  def personalizedPageRankDF(s: SparkSession, edges: DataFrame, seed: Long,
      iters: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .transform(Checkpoints.cut)
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct().transform(Checkpoints.cut)
    val weighted = e
      .join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src")
      .transform(Checkpoints.cut)
    val reset = (id: Column) => when(id === lit(seed), lit(1.0)).otherwise(lit(0.0))
    var ranks = verts.withColumn("rank", reset(col("id")))
    for (i <- 1 to iters) {
      val contribs = weighted
        .join(ranks.withColumnRenamed("id", "src"), "src")
        .select(col("dst").as("id"), (col("rank") / col("deg")).as("c"))
        .groupBy("id").agg(sum("c").as("msum"))
      ranks = verts.join(contribs, Seq("id"), "left_outer")
        .select(col("id"),
          (lit(0.15) * reset(col("id")) +
            lit(0.85) * coalesce(col("msum"), lit(0.0))).as("rank"))
      if (i % 2 == 0 || i == iters) ranks = ranks.transform(Checkpoints.cut)
    }
    // L1 normalization as a lazy broadcast 1-row aggregate (see
    // [[pageRankDF]] — no driver barrier)
    val total = ranks.agg(sum(col("rank")).as("__total"))
    ranks.crossJoin(broadcast(total))
      .select(col("id"), (col("rank") / col("__total")).as("rank"))
  }

  /** G18 — HITS (Kleinberg hubs & authorities), the mutually-recursive
    * ranking natural on a heterogeneous DAG like `G_supply` (customers/
    * orders hub toward parts/suppliers): a = normalize(Eᵀh), h =
    * normalize(Ea), L2-normalized each half-step. Per iteration: two
    * join+agg shuffles; the L2 norms are folded into the NEXT consumer's
    * plan as broadcast 1-row aggregates over the checkpointed half-step,
    * so no per-iteration driver barrier remains — the only actions are
    * the lineage cuts themselves. Engine-only (float fixed point);
    * GraphOpsSpec gates against a dense local power iteration on a hand
    * graph plus norm/determinism invariants.
    */
  def hitsDF(s: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"hitsDF needs iters >= 1, got $iters")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct().transform(Checkpoints.cut)
    val verts = e.select(col("src").as("id"))
      .unionAll(e.select(col("dst").as("id"))).distinct().transform(Checkpoints.cut)
    // lazy L2 norm: a 1-row aggregate over the checkpointed raw
    // half-step, broadcast into the normalizing projection — recomputing
    // it per consumer is one cheap re-scan, vs. a driver `.head()` job
    // barrier per half-step (2 × iters extra job launches)
    def normalized(raw: DataFrame, c: String): DataFrame = {
      val n = raw.agg(sqrt(sum(col(c) * col(c))).as("__n"))
      verts.join(raw, Seq("id"), "left_outer")
        .crossJoin(broadcast(n))
        .select(col("id"), coalesce(col(c) / col("__n"), lit(0.0)).as(c))
    }
    // initial hubs 1/sqrt(n), ALSO as a lazy broadcast 1-row aggregate —
    // with this, the documented claim holds exactly: the only actions a
    // hitsDF call runs are the per-half-step lineage cuts
    val n0 = verts.agg((lit(1.0) / sqrt(count(lit(1)))).as("__h0"))
    var hubs = verts.crossJoin(broadcast(n0))
      .select(col("id"), col("__h0").as("h"))
    var auths: DataFrame = null
    for (i <- 1 to iters) {
      // checkpoint the raw half-step: it fans out into the norm aggregate
      // AND the normalized projection — without the cut each half-step's
      // join+agg shuffle would run twice per consumer
      val aRaw = e.join(hubs.withColumnRenamed("id", "src"), "src")
        .groupBy(col("dst").as("id")).agg(sum("h").as("a"))
        .transform(Checkpoints.cut)
      auths = normalized(aRaw, "a")
      val hRaw = e.join(auths.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id")).agg(sum("a").as("h"))
        .transform(Checkpoints.cut)
      hubs = normalized(hRaw, "h")
    }
    hubs.join(auths, Seq("id"))
      .select(col("id"), col("h").as("hub"), col("a").as("auth"))
  }

  /** G16 — deterministic random-walk sampling (the node2vec/DeepWalk
    * training-data prep): `walksPerSeed` walks of up to `steps` steps
    * from each seed vertex. At step i, a walk at vertex v moves to the
    * neighbor with rank `md5Long(walk_id:i:v) mod outdeg(v)` in the
    * (dst-sorted) adjacency — "randomness" from a seeded engine-portable
    * hash ([[graft.Det.md5Long]]), so walks are exactly reproducible
    * across runs and task retries (the lineage property training
    * pipelines need; a `rand()` walk resamples under retry) AND
    * replayable by the DuckDB oracle (g16 is hash-matched, not merely
    * spec-gated). A walk reaching a sink stops early.
    *
    * Plan: the adjacency is ranked ONCE (one window over the src
    * shuffle); each step is then one equi join of the live frontier
    * against the ranked table on (vertex, pick) — all walks advance
    * together, no per-walk loops, `steps × O(frontier)` total. At
    * 100 TB the ranked adjacency persists bucketed on src and every
    * step joins exchange-free. Returns (walk_id, seed, step, vertex).
    */
  def hashWalks(s: SparkSession, edges: DataFrame, seeds: DataFrame,
      steps: Int, walksPerSeed: Int): DataFrame = {
    val ranked = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .distinct()
      .withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("src").orderBy("dst")) - 1)
    val degs = ranked.groupBy("src").agg(count(lit(1)).as("deg"))
      .transform(Checkpoints.cut)
    val adj = ranked.join(degs, "src").transform(Checkpoints.cut)
    // walk_id = seed * walksPerSeed + w — unique and reproducible
    var state = seeds.select(col("id").cast("long").as("seed"))
      .crossJoin(spark_range(s, walksPerSeed))
      .select((col("seed") * walksPerSeed + col("w")).as("walk_id"),
        col("seed"), col("seed").as("vertex"))
    var out = state.select(col("walk_id"), col("seed"), lit(0).as("step"),
      col("vertex"))
    for (i <- 1 to steps) {
      // pick first (one row per live walk), THEN equi-join on BOTH
      // (vertex, rank) — the walk never fans out by the vertex degree
      val picked = state
        .join(degs.select(col("src").as("vertex"), col("deg")), Seq("vertex"))
        .withColumn("rank",
          pmod(graft.Det.md5Long(concat_ws(":",
            col("walk_id").cast("string"), lit(i.toString),
            col("vertex").cast("string"))), col("deg")))
        .drop("deg")
      state = picked
        .join(adj.select(col("src").as("vertex"), col("rank"), col("dst")),
          Seq("vertex", "rank"))
        .select(col("walk_id"), col("seed"), col("dst").as("vertex"))
      out = out.unionAll(state.select(col("walk_id"), col("seed"),
        lit(i).as("step"), col("vertex")))
    }
    out
  }

  private def spark_range(s: SparkSession, n: Int): DataFrame =
    s.range(n).select(col("id").as("w"))

  /** G45 — δ-RESTLESS earliest arrival over a temporal edge multigraph
    * (src, dst, dep_us, arr_us): a walk may continue from a node only
    * through an edge departing within [arrival, arrival + δ] — the
    * bounded-layover semantics (Casteigts et al.'s restless temporal
    * paths) that G10's unrestricted earliest-arrival cannot express.
    * `seeds` are (id, arr_us) entry labels (the caller decides source
    * semantics; the registry enters through the earliest edges with
    * unconstrained source wait).
    *
    * Restlessness breaks the single-label-per-node optimality of G10:
    * an EARLIER arrival can strand (no departure within δ) where a
    * later one catches a connection, so the state is the SET of
    * distinct (node, arrival-event) labels — bounded by the edge count,
    * not by walk combinatorics, because expansion depends only on the
    * label: each round expands the new labels through ONE equi join on
    * src (the δ window is a local filter on the joined row), dedups,
    * and anti-joins against everything seen — the cross-depth dedup is
    * result-preserving by the standard BFS argument (a label's children
    * are discovered at its FIRST depth, which is minimal). maxHops
    * bounds walk length; rounds end early when a frontier empties.
    * Exact integer micros end to end, so the min-arrival read
    * hash-matches the depth-bounded recursive-CTE walk replay.
    */
  def restlessEarliestArrival(s: SparkSession, edges: DataFrame,
      seeds: DataFrame, deltaUs: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long"))
      .transform(Checkpoints.cut)
    // the seed labels are walks of one hop, so maxHops − 1 rounds remain.
    // The adaptive frontier broadcast of [[expandFrontier]] matters here:
    // the checkpointed frontier carries no stats, so without the explicit
    // hint Catalyst would plan a shuffle join and move the FULL edge list
    // every round; small frontiers — the normal case for a depth-bounded
    // temporal expansion — ship as broadcasts instead.
    expandFrontier(seeds.select(col("id").cast("long"),
        col("arr_us").cast("long")).distinct(), Seq("id", "arr_us"),
        maxHops - 1)((probe, _) => restlessStep(probe, e, deltaUs))
      .groupBy("id").agg(min(col("arr_us")).as("arrival_us"))
  }

  /** One restless hop of the label frontier `f` (id, arr_us, …) through
    * the δ-usable edges of `e`: the distinct (id, arr_us) labels reached.
    */
  private[graft] def restlessStep(f: DataFrame, e: DataFrame, deltaUs: Long)
      : DataFrame =
    f.select(col("id").as("f_id"), col("arr_us").as("f_arr"))
      .join(e, col("f_id") === col("src"))
      .filter(col("dep_us") >= col("f_arr") &&
        col("dep_us") <= col("f_arr") + deltaUs)
      .select(col("dst").as("id"), col("arr_us"))
      .distinct()

  /** G49 — minimal RESTLESS WALK DEPTH per reached node: the hop-count
    * twin of [[restlessEarliestArrival]] (same label DP, same
    * cross-depth dedup — a label's children are discovered at its FIRST
    * depth, which is minimal, so stamping each (node, arrival) label
    * with its discovery hop and taking min over a node's labels IS the
    * minimal δ-restless walk length). Seeds carry depth 1 (they are
    * one-edge entry labels, the g45/g46 convention). The temporal
    * analog of the g17/g19/g31 BFS dist — closeness/harmonic reads are
    * one aggregate away. Returns (id, dist).
    */
  def restlessMinDepths(s: SparkSession, edges: DataFrame,
      seeds: DataFrame, deltaUs: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long"))
      .transform(Checkpoints.cut)
    // round r discovers the labels at walk depth r + 1
    expandFrontier(seeds.select(col("id").cast("long"),
        col("arr_us").cast("long")).distinct().withColumn("dist", lit(1)),
        Seq("id", "arr_us"), maxHops - 1) { (probe, r) =>
      restlessStep(probe, e, deltaUs).withColumn("dist", lit(r + 1))
    }.groupBy("id").agg(min(col("dist")).as("dist"))
  }

  /** G46 — restless WALK COUNTING: how many distinct δ-restless temporal
    * walks of ≤ maxHops edges from the seed labels END at each node —
    * the temporal analog of G20's σ path-count primitive (exposure/flow
    * accounting: "through how many bounded-layover relay chains could
    * this part have been reached"). Walks of different depths are
    * different walks, so unlike [[restlessEarliestArrival]] there is NO
    * cross-depth dedup: each round expands the PREVIOUS round's
    * (id, arr, n) count labels through one equi join + δ filter and
    * re-aggregates counts per (dst, arr) — the standard path-count DP,
    * label volume bounded by distinct (node, arrival-event) pairs per
    * depth. Exact integer counts; hash-matches the UNION ALL
    * recursive-CTE walk enumeration.
    */
  def restlessWalkCounts(s: SparkSession, edges: DataFrame,
      seeds: DataFrame, deltaUs: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long"))
      .transform(Checkpoints.cut)
    restlessForwardLevels(e, seeds, deltaUs, maxHops)
      .map(_._2.groupBy("id").agg(sum("n").as("n_walks")))
      .reduce(_.unionByName(_))
      .groupBy("id").agg(sum("n_walks").as("n_walks"))
  }

  /** Forward per-depth restless COUNT DP shared by [[restlessWalkCounts]],
    * [[restlessVisitCounts]] and [[restlessTemporalBetweenness]] (r16
    * review: three hand-maintained copies of the identical kernel had
    * accreted — a broadcast-threshold or δ-boundary fix must land once):
    * level 1 = the seed labels' (id, arr_us, n) multiplicities; each
    * next level steps every label through the δ-usable edges with the
    * adaptive broadcast hint (see [[expandFrontier]]) and
    * re-aggregates counts per (dst, arr). Returns the per-depth level
    * tables, 1-indexed, stopping early when a level empties. `e` must
    * already be the projected + checkpoint-cut 4-column edge frame.
    */
  private def restlessForwardLevels(e: DataFrame, seeds: DataFrame,
      deltaUs: Long, maxHops: Int): Seq[(Int, DataFrame)] = {
    var (level, rows) = Checkpoints.cutCounted(seeds.select(
        col("id").cast("long"), col("arr_us").cast("long"))
      .groupBy("id", "arr_us").agg(count(lit(1)).as("n")))
    val fwd = scala.collection.mutable.ArrayBuffer((1, level))
    var hop = 1
    while (hop < maxHops && rows > 0) {
      hop += 1
      val probe = if (rows <= FrontierBroadcastRows) broadcast(level)
        else level
      val (next, nextRows) = Checkpoints.cutCounted(probe
        .select(col("id").as("f_id"), col("arr_us").as("f_arr"), col("n"))
        .join(e, col("f_id") === col("src"))
        .filter(col("dep_us") >= col("f_arr") &&
          col("dep_us") <= col("f_arr") + deltaUs)
        .groupBy(col("dst").as("id"), col("arr_us"))
        .agg(sum("n").as("n")))
      level = next
      rows = nextRows
      if (rows > 0) fwd += ((hop, level))
    }
    fwd.toSeq
  }

  /** G47 — restless VISIT COUNTING (temporal flow-through centrality):
    * across ALL δ-restless walks of ≤ maxHops edges from the seed
    * labels, how many times is each node visited — the temporal
    * betweenness-style read ("how much bounded-layover relay traffic
    * passes THROUGH this part"), where [[restlessWalkCounts]] only
    * counts walk ENDPOINTS.
    *
    * Every prefix of a restless walk is a restless walk, so visits
    * decompose exactly: a visit of v at position i in walk W ↔ the pair
    * (prefix P = W[0..i] ending at v, continuation S = W[i+1..]), hence
    * σ(v) = Σ_d Σ_a fwd_d(v, a) · cont_{maxHops−d}(v, a) with
    * fwd_d = the per-depth walk-count DP of [[restlessWalkCounts]] and
    * cont_r(v, a) = the number of restless continuations of length ≤ r
    * from the label (empty one included):
    * cont_r = 1 + Σ_{usable e} cont_{r−1}(e.dst, e.arr). The backward
    * DP runs over the REACHABLE label set only (successors of reachable
    * labels within the hop budget are reachable), r = 0..maxHops−1,
    * one equi join + δ filter + re-aggregation per step — the same
    * bounded shape as the forward pass, ~2·maxHops joins total. Exact
    * integers; hash-matches the path-carrying UNION ALL enumeration
    * (unnest every walk's positions, count per node).
    */
  def restlessVisitCounts(s: SparkSession, edges: DataFrame,
      seeds: DataFrame, deltaUs: Long, maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be >= 1")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long"))
      .transform(Checkpoints.cut)
    // forward pass: per-depth (id, arr_us, n) walk-count labels
    val fwd = restlessForwardLevels(e, seeds, deltaUs, maxHops)
    // reachable label domain (id, arr_us) with its continuation counts
    // cont_r, built upward from cont_0 = 1 (the empty continuation)
    val (labels, labelRows) = Checkpoints.cutCounted(
      fwd.map(_._2.select("id", "arr_us")).reduce(_.unionAll(_)).distinct())
    val labelProbe = if (labelRows <= FrontierBroadcastRows)
      broadcast(labels) else labels
    var cont = labels.withColumn("c", lit(1L)).transform(Checkpoints.cut)
    val contAt = scala.collection.mutable.Map(0 -> cont)
    for (r <- 1 until maxHops) {
      val stepped = labelProbe
        .select(col("id").as("l_id"), col("arr_us").as("l_arr"))
        .join(e, col("l_id") === col("src"))
        .filter(col("dep_us") >= col("l_arr") &&
          col("dep_us") <= col("l_arr") + deltaUs)
        .join(cont.select(col("id").as("dst"), col("arr_us"),
          col("c").as("c_next")), Seq("dst", "arr_us"))
        .groupBy(col("l_id").as("id"), col("l_arr").as("arr_us"))
        .agg(sum("c_next").as("c_sum"))
      cont = labels.join(stepped, Seq("id", "arr_us"), "left_outer")
        .select(col("id"), col("arr_us"),
          (lit(1L) + coalesce(col("c_sum"), lit(0L))).as("c"))
        .transform(Checkpoints.cut)
      contAt(r) = cont
    }
    // σ(v) = Σ_d fwd_d · cont_{maxHops−d}, joined on the label
    fwd.map { case (d, f) =>
      f.join(contAt(maxHops - d), Seq("id", "arr_us"))
        .select(col("id"), (col("n") * col("c")).as("s"))
    }.reduce(_.unionAll(_))
      .groupBy("id").agg(sum("s").as("sigma"))
  }

  /** Temporal earliest-arrival (SURVEY G10, the reference's signature
    * traversal): from `seed`, present at `seedTsUs`, an edge (u,v) is
    * usable only if arrival(u) <= its availability time; arrival(v) = the
    * hop's arrival time. Returns (id, arrival_us), the earliest arrival
    * over walks of at most `maxHops` edges ([[temporalFrontier]]). The
    * seed is not pinned: a cycle that returns before `seedTsUs` lowers
    * its own arrival.
    */
  def earliestArrival(s: SparkSession, edges: DataFrame, seed: Long,
      seedTsUs: Long, maxHops: Int): DataFrame =
    temporalFrontier(s, edges, seed, seedTsUs, maxHops, forward = true)
      .toDF("id", "arrival_us")

  /** Temporal latest-departure (G10b) — the backward twin of
    * [[earliestArrival]], completing the classic temporal-path triple
    * (earliest-arrival / latest-departure / fastest-journey): the latest
    * time one can still be at each vertex and reach `target` by
    * `deadlineUs`. An edge (u,v,avail,arrive) is usable iff its arrival
    * makes v's own latest departure (`arrive <= d(v)`); using it means
    * leaving u no later than its availability, so d(u) = max over usable
    * out-edges of avail. The same frontier as the forward traversal, run
    * from the target against the edge direction ([[temporalFrontier]]),
    * bounded to `maxHops` edges. The target is pinned at the deadline: a
    * cycle back into it (depart late, loop, re-arrive in time) must not
    * raise its own latest departure past the deadline. Returns
    * (id, depart_us) for vertices that can reach the target in time.
    */
  def latestDeparture(s: SparkSession, edges: DataFrame, target: Long,
      deadlineUs: Long, maxHops: Int): DataFrame =
    temporalFrontier(s, edges, target, deadlineUs, maxHops, forward = false)
      .toDF("id", "depart_us")

  /** The relaxation frontier under both temporal paths: Bellman-Ford over
    * (src, dst, avail_us, arrive_us) edges from `origin` at `originUs`,
    * synchronous per hop, so the result is the best time over walks of at
    * most `maxHops` edges. Forward, a vertex reached at t may leave on any
    * edge with t <= avail and reaches dst at arrive (minimum kept).
    * Backward, a vertex that must be left by t is reached from src on any
    * edge with arrive <= t, leaving src at avail (maximum kept), and the
    * origin never takes a value but its own.
    *
    * The vertex set is the edge endpoints: an origin no edge touches gives
    * an empty result, and so does an origin time equal to the direction's
    * sentinel (`Long.MaxValue` forward, `Long.MinValue` backward), which
    * is never emitted. Per hop, ONE cut job: the frontier (vertices that
    * improved last hop) joins the edges — broadcast up to
    * [[FrontierBroadcastRows]] rows, shuffled past it — and the improved
    * candidates merge into the state, whose new-frontier size the cut
    * observes. The loop exits early when a hop improves nothing. Returns
    * (id, t).
    */
  private def temporalFrontier(s: SparkSession, edges: DataFrame,
      origin: Long, originUs: Long, maxHops: Int,
      forward: Boolean): DataFrame = {
    import s.implicits._
    val (from, to, gate, reach) =
      if (forward) ("src", "dst", "avail_us", "arrive_us")
      else ("dst", "src", "arrive_us", "avail_us")
    val sentinel = if (forward) Long.MaxValue else Long.MinValue
    def better(a: Column, b: Column): Column = if (forward) a < b else a > b
    val (e0, touch) = Checkpoints.cutObserved(
      edges.select(Seq("src", "dst", "avail_us", "arrive_us")
        .map(c => col(c).cast("long")): _*),
      count(when(col("src") === origin || col("dst") === origin, 1))
        .as("touch"))
    if (touch.getLong(0) == 0 || originUs == sentinel)
      return Seq.empty[(Long, Long)].toDF("id", "t")
    val all = e0.select(col(from).as("from"), col(to).as("id"),
        col(gate).as("gate"), col(reach).as("t"))
      .filter(col("t") =!= sentinel)
    val e = if (forward) all else all.filter(col("id") =!= origin)
    var state = Seq((origin, originUs, true)).toDF("id", "t", "fresh")
    var fresh = 1L
    var hop = 0
    while (fresh > 0 && hop < maxHops) {
      hop += 1
      val front = state.filter(col("fresh"))
        .select(col("id").as("from"), col("t").as("from_t"))
      val probe = if (fresh <= FrontierBroadcastRows) broadcast(front)
        else front
      val cand = e.join(probe, "from")
        .filter(!better(col("gate"), col("from_t")))
        .groupBy("id")
        .agg((if (forward) min(col("t")) else max(col("t"))).as("cand"))
      val improved = col("cand").isNotNull &&
        (col("t").isNull || better(col("cand"), col("t")))
      val (next, r) = Checkpoints.cutObserved(
        state.select("id", "t").join(cand, Seq("id"), "full_outer")
          .select(col("id"), when(improved, col("cand")).otherwise(col("t"))
            .as("t"), improved.as("fresh")),
        count(when(col("fresh"), 1)).as("fresh"))
      state = next
      fresh = r.getLong(0)
    }
    state.select("id", "t")
  }

  /** Temporal fastest-journey (G10c) — the triple's third member: the
    * minimum journey DURATION (arrival − departure) from `seed` to every
    * vertex, over all start times. Unlike earliest-arrival, no single
    * scalar per vertex suffices: a later start can strictly shorten the
    * journey, so each vertex carries the PARETO frontier of
    * (start_us, arr_us) pairs — a pair survives iff no other pair starts
    * later-or-equal AND arrives earlier-or-equal. Catalyst-native
    * frontier iteration: per hop one join of the checkpointed temporal
    * edge list against the new pairs (`arr <= avail` gates usability),
    * then Pareto pruning as ONE window pass (sort each vertex's pairs by
    * start desc / arr asc; a pair is dominated iff the running min of
    * arrival over strictly-later starts is <= its own arrival). Frontier
    * = pairs that survived pruning and are new this hop, so converged
    * vertices cost nothing and the loop early-exits when no
    * non-dominated pair appears. Per-vertex state is bounded by the
    * number of distinct useful start times (the seed's temporal
    * out-degree), not path counts. Returns (id, duration_us), the
    * frontier's min duration per vertex (seed excluded — its journey is
    * trivially 0).
    */
  def fastestJourney(s: SparkSession, edges: DataFrame, seed: Long,
      maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("avail_us").cast("long"), col("arrive_us").cast("long"))
      .transform(Checkpoints.cut)
    def pareto(pairs: DataFrame): DataFrame = {
      val w = Window.partitionBy("id")
        .orderBy(col("start_us").desc, col("arr_us").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      pairs.withColumn("__best", min(col("arr_us")).over(w))
        .filter(col("__best").isNull || col("arr_us") < col("__best"))
        .drop("__best")
    }
    val (all0, rows0) = Checkpoints.cutCounted(pareto(
      e.filter(col("src") === seed)
        .select(col("dst").as("id"), col("avail_us").as("start_us"),
          col("arrive_us").as("arr_us"))
        .distinct()))
    var all = all0
    var frontier = all
    var newRows = rows0
    var hops = 1
    while (newRows > 0 && hops < maxHops) {
      hops += 1
      val extended = e
        .join(frontier.select(col("id").as("src"), col("start_us"),
          col("arr_us")), "src")
        .filter(col("arr_us") <= col("avail_us"))
        .select(col("dst").as("id"), col("start_us"),
          col("arrive_us").as("arr_us"))
        .distinct()
      val pruned = pareto(all.unionAll(extended)).transform(Checkpoints.cut)
      val (next, rows) = Checkpoints.cutCounted(
        pruned.join(all, Seq("id", "start_us", "arr_us"), "left_anti"))
      frontier = next
      all = pruned
      newRows = rows
    }
    all.filter(col("id") =!= seed)
      .groupBy("id")
      .agg(min(col("arr_us") - col("start_us")).as("duration_us"))
  }

  /** G48 — TEMPORAL BETWEENNESS, restricted exact-integer form (the
    * g21b discipline on the restless substrate): where G47 weights
    * visits by ALL δ-restless walks, the Brandes-style read weights by
    * OPTIMAL temporal paths only. Optimality here is SHORTEST-FOREMOST
    * (the standard temporal-betweenness variant: first minimize arrival
    * time, then hop count): for each target t, A(t) = the earliest
    * restless arrival and D(t) = the minimum walk depth achieving it;
    * the optimal walks are exactly those ending at label (t, A(t)) with
    * D(t) edges... and σ_t(v) counts v's occurrences at STRICTLY
    * INTERIOR positions 2..D(t)−1 across all of them (endpoints — the
    * entry label and the target — excluded, as in g21b's restriction).
    *
    * Targets: the `nTargets` smallest reached ids with D ≥ 3 (depths
    * below 3 have no interior — the contract picks targets the measure
    * is defined on), a deterministic ≤ nTargets-row driver fetch (the
    * g21b σ-table discipline).
    *
    * Engine shape — two bounded label DPs, the g21 forward×backward
    * product on the temporal substrate:
    * - forward: fwd_k(v, a) = # of k-edge restless walks from the seeds
    *   ending at label (v, a) (the g46 per-depth count DP, levels kept);
    * - backward: bwd_j(v, a, t) = # of EXACTLY-j-edge restless
    *   continuations from label (v, a) ending at (t, A(t)) — one equi
    *   join + δ filter per step over the reachable label domain, all
    *   targets carried together (one DP, not one per target);
    * - σ_t(v) = Σ_{k=2..D(t)−1} Σ_a fwd_k(v, a) · bwd_{D(t)−k}(v, a, t).
    * ~2·H bounded joins total, adaptive broadcast per level. Exact
    * integers end to end — hash-matched against the path-carrying
    * UNION ALL walk enumeration restricted to shortest-foremost walks
    * (the g47 oracle with the optimality filter). Returns
    * (t_id, v_id, sigma), sigma > 0 rows only.
    */
  def restlessTemporalBetweenness(s: SparkSession, edges: DataFrame,
      seeds: DataFrame, deltaUs: Long, maxHops: Int,
      nTargets: Int = 3): DataFrame = {
    require(maxHops >= 3, "temporal betweenness needs maxHops >= 3 " +
      "(shorter walks have no interior)")
    import s.implicits._
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long"))
      .transform(Checkpoints.cut)
    // forward per-depth count DP (the shared g46 kernel, levels kept)
    val fwd = restlessForwardLevels(e, seeds, deltaUs, maxHops).toMap
    // shortest-foremost targets: min arrival per id, min depth at that
    // arrival, D >= 3 — a deterministic <= nTargets driver fetch
    val labAll = fwd.toSeq.map { case (d, f) =>
      f.select(col("id"), col("arr_us"), lit(d).as("d"))
    }.reduce(_.unionAll(_)).transform(Checkpoints.cut)
    val arrT = labAll.groupBy("id").agg(min("arr_us").as("arr_us"))
    val targets = labAll.join(arrT, Seq("id", "arr_us"))
      .groupBy("id", "arr_us").agg(min("d").as("d"))
      .filter(col("d") >= 3)
      .orderBy("id").limit(nTargets)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    if (targets.isEmpty) {
      return Seq.empty[(Long, Long, Long)].toDF("t_id", "v_id", "sigma")
    }
    // backward exact-hop continuation DP over the reachable label
    // domain, all targets carried in one (id, arr_us, t_id, c) table
    val labKeys = labAll.select("id", "arr_us").distinct()
      .transform(Checkpoints.cut)
    val labKeyRows = labKeys.count()
    val labProbe = if (labKeyRows <= FrontierBroadcastRows)
      broadcast(labKeys) else labKeys
    // the usable label→successor-label pairs are the same every round —
    // materialize them ONCE (bounded by one forward round's join volume)
    val usable = labProbe
      .select(col("id").as("f_id"), col("arr_us").as("f_arr"))
      .join(e, col("f_id") === col("src"))
      .filter(col("dep_us") >= col("f_arr") &&
        col("dep_us") <= col("f_arr") + deltaUs)
      .select(col("f_id"), col("f_arr"), col("dst"), col("arr_us"))
      .transform(Checkpoints.cut)
    var bwd = targets.toSeq.map { case (t, a, _) => (t, a, t, 1L) }
      .toDF("id", "arr_us", "t_id", "c")
    val bwdAt = scala.collection.mutable.Map(0 -> bwd)
    val maxBack = targets.map(_._3).max - 2 // k >= 2 needs j <= D - 2
    for (j <- 1 to maxBack) {
      val prevRows = bwdAt(j - 1).count()
      val prev0 = bwdAt(j - 1)
        .select(col("id").as("b_id"), col("arr_us").as("b_arr"),
          col("t_id"), col("c"))
      val prev = if (prevRows <= FrontierBroadcastRows) broadcast(prev0)
        else prev0
      bwd = usable
        .join(prev, col("dst") === col("b_id") &&
          col("arr_us") === col("b_arr"))
        .groupBy(col("f_id").as("id"), col("f_arr").as("arr_us"),
          col("t_id"))
        .agg(sum("c").as("c"))
        .transform(Checkpoints.cut)
      bwdAt(j) = bwd
    }
    // σ_t(v): interior positions only — fwd_k × bwd_{D-k} per target
    val contribs = for {
      (t, _, dd) <- targets.toSeq
      k <- 2 until dd
      if fwd.contains(k)
    } yield fwd(k)
      .join(bwdAt(dd - k).filter(col("t_id") === t), Seq("id", "arr_us"))
      .select(col("t_id"), col("id").as("v_id"),
        (col("n") * col("c")).as("s"))
    contribs.reduce(_.unionAll(_))
      .groupBy("t_id", "v_id").agg(sum("s").as("sigma"))
      .filter(col("sigma") > 0)
  }
}
