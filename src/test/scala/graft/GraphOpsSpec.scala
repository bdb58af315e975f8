package graft

import graft.ops.Graphs

/** Direct algorithm tests for the graph layer, incl. the temporal
  * earliest-arrival semantics on a multi-path graph (the fixture session
  * graph is per-user chains; this exercises the general case). The
  * DataFrame kernels are compared against the GraphX twins in
  * [[GraphXOracles]].
  */
class GraphOpsSpec extends SparkSpecBase {

  /** (id, component) rows as a map. */
  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("earliestArrival respects edge availability times") {
    import spark.implicits._
    // Graph: 1 -> 2 -> 4 (slow but usable), 1 -> 3 -> 4 (3->4 departs
    // BEFORE arrival at 3 is possible -> unusable). Times in micros.
    // edge: (src, dst, avail_us, arrive_us); usable iff arrival(src) <= avail.
    val edges = Seq(
      (1L, 2L, 100L, 200L), // dep 100 arr 200
      (2L, 4L, 250L, 400L), // dep 250 arr 400  -> arrival(4) = 400
      (1L, 3L, 100L, 300L), // dep 100 arr 300
      (3L, 4L, 250L, 260L)  // departs 250 < arrival(3)=300 -> UNUSABLE
    ).toDF("src", "dst", "avail_us", "arrive_us")
    val res = Graphs.earliestArrival(spark, edges, seed = 1L, seedTsUs = 0L,
        maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res == Map(1L -> 0L, 2L -> 200L, 3L -> 300L, 4L -> 400L))
  }

  test("labelPropagationDF: two triangles + bridge converge to two communities") {
    import spark.implicits._
    // triangles {1,2,3} and {4,5,6} bridged by 3-4; hand-traced with the
    // (count desc, min label) rule, labels settle to {1,1,1, 3,3,3} after
    // round 3 (the bridge pulls 4 toward the lower community's label once
    // before its own triangle reclaims it)
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L),
      (4L, 5L), (5L, 6L), (4L, 6L), (3L, 4L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = Graphs.labelPropagationDF(spark, edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
    // deterministic: a second run is identical
    val again = Graphs.labelPropagationDF(spark, edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
  }

  test("kCorePeelDF: tail peels away round by round, triangle survives") {
    import spark.implicits._
    // triangle {1,2,3} with a tail 3-4-5: round 1 drops 5 (deg 1),
    // round 2 drops 4 (its remaining deg 1), round 3 changes nothing —
    // the 2-core is exactly the triangle
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val got = Graphs.kCorePeelDF(spark, edges, k = 2, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // one round is not enough: 4 still present with the dangling edge
    val oneRound = Graphs.kCorePeelDF(spark, edges, k = 2, rounds = 1)
      .collect().map(r => r.getLong(0)).toSet
    assert(oneRound == Set(1L, 2L, 3L, 4L))
  }

  test("earliestArrival prefers the time-respecting faster arrival") {
    import spark.implicits._
    // Two usable routes to 4; the later-departing one arrives earlier.
    val edges = Seq(
      (1L, 2L, 100L, 200L),
      (2L, 4L, 200L, 900L), // usable, arrives 900
      (1L, 3L, 100L, 150L),
      (3L, 4L, 150L, 500L)  // usable, arrives 500 -> wins
    ).toDF("src", "dst", "avail_us", "arrive_us")
    val res = Graphs.earliestArrival(spark, edges, seed = 1L, seedTsUs = 0L,
        maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(res(4L) == 500L)
  }

  test("maxHops bounds the traversal depth") {
    import spark.implicits._
    // chain 1->2->3->4 all immediately available
    val edges = Seq((1L, 2L, 0L, 1L), (2L, 3L, 1L, 2L), (3L, 4L, 2L, 3L))
      .toDF("src", "dst", "avail_us", "arrive_us")
    val res = Graphs.earliestArrival(spark, edges, seed = 1L, seedTsUs = 0L,
        maxHops = 2)
      .collect().map(r => r.getLong(0)).toSet
    assert(res == Set(1L, 2L, 3L)) // 4 is 3 hops away
  }

  test("temporal paths: an origin no edge touches, or one at the " +
      "sentinel time, gives an empty result (== GraphX)") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 10L, 20L), (2L, 3L, 20L, 30L),
      (3L, 4L, 30L, Long.MaxValue), (0L, 1L, Long.MinValue, 5L))
      .toDF("src", "dst", "avail_us", "arrive_us")
    def ea(seed: Long, ts: Long) = Seq(Graphs.earliestArrival(spark, edges,
        seed, ts, maxHops = 5), GraphXOracles.earliestArrival(spark, edges,
        seed, ts, maxHops = 5))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    def ld(target: Long, deadline: Long) = Seq(Graphs.latestDeparture(spark,
        edges, target, deadline, maxHops = 5), GraphXOracles.latestDeparture(
        spark, edges, target, deadline, maxHops = 5))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // 99 is no edge's endpoint
    assert(ea(99L, 0L) == Seq(Map(), Map()))
    assert(ld(99L, 100L) == Seq(Map(), Map()))
    // the sentinel origin time is never emitted
    assert(ea(1L, Long.MaxValue) == Seq(Map(), Map()))
    assert(ld(4L, Long.MinValue) == Seq(Map(), Map()))
    // nor is an arrival at Long.MaxValue (3→4) or a departure at
    // Long.MinValue (0→1)
    val fwd = Map(1L -> 0L, 2L -> 20L, 3L -> 30L)
    assert(ea(1L, 0L) == Seq(fwd, fwd))
    val back = Map(3L -> 100L, 2L -> 20L, 1L -> 10L)
    assert(ld(3L, 100L) == Seq(back, back))
  }

  test("earliestArrival: a cycle that returns early lowers the seed's own " +
      "arrival (the seed is not pinned)") {
    import spark.implicits._
    // seed 1 at 4; 2→1 arrives at 3 < 4, and 1→3 (avail 3) is usable
    // only from the lowered arrival
    val edges = Seq((1L, 2L, 4L, 5L), (2L, 1L, 5L, 3L), (1L, 3L, 3L, 6L))
      .toDF("src", "dst", "avail_us", "arrive_us")
    def run(hops: Int) = Seq(
        Graphs.earliestArrival(spark, edges, 1L, 4L, maxHops = hops),
        GraphXOracles.earliestArrival(spark, edges, 1L, 4L, maxHops = hops))
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    val full = Map(1L -> 3L, 2L -> 5L, 3L -> 6L)
    assert(run(5) == Seq(full, full))
    // two hops lower the seed; the third reaches 3
    val two = Map(1L -> 3L, 2L -> 5L)
    assert(run(2) == Seq(two, two))
  }

  test("latestDeparture: the target stays pinned at the deadline under a " +
      "returning cycle") {
    import spark.implicits._
    // target 2, deadline 30. The cycle 2→3→2 would let one leave 2 at 40
    // and still be back by the deadline (3→2 arrives 24 <= 30, 2→3
    // arrives 22 <= d(3) = 23); pinned, d(2) stays 30, so 0→2 (arrive
    // 38 > 30) stays unusable
    val edges = Seq((1L, 2L, 10L, 20L), (3L, 2L, 23L, 24L),
      (2L, 3L, 40L, 22L), (0L, 2L, 35L, 38L))
      .toDF("src", "dst", "avail_us", "arrive_us")
    val want = Map(2L -> 30L, 1L -> 10L, 3L -> 23L)
    val got = Graphs.latestDeparture(spark, edges, 2L, 30L, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val gx = GraphXOracles.latestDeparture(spark, edges, 2L, 30L, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want && gx == want, s"$got / GraphX $gx")
  }

  test("temporal paths == GraphX Pregel on the fixture session graph " +
      "(both directions, maxHops = 8)") {
    import org.apache.spark.sql.functions.col
    val edges = Graphs.sessionEdges(spark, sfDir).localCheckpoint()
    val seed = edges.orderBy("src").select("src", "avail_us").head()
    // the target: the chain tip of the seed's session (its latest event)
    val target = edges.orderBy(col("arrive_us").desc, col("dst").desc)
      .select("dst", "arrive_us").head()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ea = rows(Graphs.earliestArrival(spark, edges, seed.getLong(0),
      seed.getLong(1), maxHops = 8))
    assert(ea.size > 1 && ea == rows(GraphXOracles.earliestArrival(spark,
      edges, seed.getLong(0), seed.getLong(1), maxHops = 8)))
    val ld = rows(Graphs.latestDeparture(spark, edges, target.getLong(0),
      target.getLong(1), maxHops = 8))
    assert(ld.size > 1 && ld == rows(GraphXOracles.latestDeparture(spark,
      edges, target.getLong(0), target.getLong(1), maxHops = 8)))
  }

  /** The frontier job gates' fixture: the chain 1→2→3→4→5, every hop
    * usable.
    */
  private def chainEdges: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (1L to 4L).map(i => (i, i + 1, 10 * i, 10 * i + 5))
      .toDF("src", "dst", "avail_us", "arrive_us")
  }

  /** The call site of every action `run` starts (one per SQL execution),
    * the test's own collect left out.
    */
  private def actionSites[T](run: => T): (T, Seq[String]) = {
    val (out, jobs) = jobSites(run)
    (out, jobs.groupBy(_._2).values.map(_.head._1).toSeq
      .filterNot(_.startsWith("collect at GraphOpsSpec")))
  }

  /** Runs `run`, asserts every action it started is a cut, and returns
    * its result with the number of cuts.
    */
  private def actions(run: => Array[org.apache.spark.sql.Row])
      : (Array[org.apache.spark.sql.Row], Int) = {
    val (out, sites) = actionSites(run)
    assert(sites.forall(_.startsWith("localCheckpoint at Checkpoints.scala:")),
      sites)
    (out, sites.length)
  }

  test("frontier job gate: the temporal paths, fastestJourney and " +
      "bfsDepthsDF run only cut jobs — no count at Graphs.scala") {
    import spark.implicits._
    val edges = chainEdges
    // the edge cut, then one cut per hop: four hops improve, the fifth
    // finds nothing and ends the loop
    val (ea, eaCuts) = actions(Graphs.earliestArrival(spark, edges, 1L, 0L,
      maxHops = 8).collect())
    assert(eaCuts == 1 + 5 && ea.length == 5, ea.toSeq)
    val (ld, ldCuts) = actions(Graphs.latestDeparture(spark, edges, 5L, 100L,
      maxHops = 8).collect())
    assert(ldCuts == 1 + 5 && ld.length == 5, ld.toSeq)
    // the hop bound ends the loop first: the edge cut and two hops
    val (_, boundCuts) = actions(Graphs.earliestArrival(spark, edges, 1L, 0L,
      maxHops = 2).collect())
    assert(boundCuts == 1 + 2)
    val (fj, _) = actions(Graphs.fastestJourney(spark, edges, 1L,
      maxHops = 8).collect())
    assert(fj.length == 4)
    val (bfs, _) = actions(Graphs.bfsDepthsDF(spark,
      edges.select("src", "dst"), 1L, maxDepth = 8).collect())
    assert(bfs.length == 5)
    // the edge and seed cuts, then a frontier cut and a distance cut per
    // improving round; the fifth round's empty frontier ends the loop
    val (wd, wdCuts) = actions(Graphs.weightedDistancesDF(spark,
      edges.select($"src", $"dst", $"avail_us".as("weight")),
      1L).collect())
    assert(wdCuts == 2 + 2 * 4 + 1 && wd.length == 5, wd.toSeq)
    // the edge and seed-label cuts, then per hop a frontier cut and a
    // label cut; the sixth hop's empty frontier ends the loop
    val (ra, raCuts) = actions(Graphs.restlessEarliestArrival(spark,
      edges.select($"src", $"dst", $"avail_us".as("dep_us"),
        $"arrive_us".as("arr_us")),
      Seq((1L, 0L)).toDF("id", "arr_us"), deltaUs = 100L, maxHops = 8)
      .collect())
    assert(raCuts == 2 + 2 * 4 + 1 && ra.length == 5, ra.toSeq)
  }

  test("frontier job gate: the visited-set BFS family, the restless " +
      "counts, forestLevels and Brandes size frontiers on their cuts — " +
      "no frontier count at Graphs.scala") {
    import spark.implicits._
    val edges = chainEdges.select("src", "dst")
    val temporal = chainEdges.select($"src", $"dst",
      $"avail_us".as("dep_us"), $"arrive_us".as("arr_us"))
    val seeds = Seq(1L).toDF("id")
    val labelSeeds = Seq((1L, 0L)).toDF("id", "arr_us")
    // the edge and seed cuts, then a frontier cut and a visited cut per
    // improving level; the fifth level's empty frontier ends the loop
    val (ms, msCuts) = actions(Graphs.multiSourceBfs(spark, edges, seeds,
      maxDepth = 8).collect())
    assert(msCuts == 2 + 2 * 4 + 1 && ms.length == 5, ms.toSeq)
    val (pc, pcCuts) = actions(Graphs.pathCountBfs(spark, edges, seeds,
      maxDepth = 8).collect())
    assert(pcCuts == 2 + 2 * 4 + 1 && pc.length == 5, pc.toSeq)
    val (md, mdCuts) = actions(Graphs.restlessMinDepths(spark, temporal,
      labelSeeds, deltaUs = 100L, maxHops = 8).collect())
    assert(mdCuts == 2 + 2 * 4 + 1 && md.length == 5, md.toSeq)
    // the edge cut, the seed level and one cut per hop up to the empty one
    val (wc, wcCuts) = actions(Graphs.restlessWalkCounts(spark, temporal,
      labelSeeds, deltaUs = 100L, maxHops = 8).collect())
    assert(wcCuts == 2 + 4 + 1 && wc.length == 5, wc.toSeq)
    val (vc, _) = actions(Graphs.restlessVisitCounts(spark, temporal,
      labelSeeds, deltaUs = 100L, maxHops = 8).collect())
    assert(vc.length == 5, vc.toSeq)
    def counts(sites: Seq[String]) =
      sites.count(_.startsWith("count at Graphs.scala"))
    // the level DPs' head and forestLevels' two input checks (distinct
    // ids, one row per id) are the only non-cut actions
    val tree = Seq((1L, 0L, 2L), (2L, 1L, 3L), (3L, 2L, 1L), (4L, 1L, 5L),
      (5L, 4L, 1L)).toDF("id", "parent", "qty")
    val (bom, bomSites) = actionSites(Graphs.bomRollup(spark, tree).collect())
    assert(counts(bomSites) == 2 && bom.length == 5, bomSites)
    val (br, brSites) = actionSites(Graphs.brandesDependencies(spark, edges,
      seeds, maxDepth = 8).collect())
    assert(counts(brSites) == 0 && br.length == 5, brSites)
  }

  test("src/main has no GraphX: graph kernels are DataFrame frontiers, " +
      "GraphX twins live in test scope") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val sources = files(root).filter(_.getName.endsWith(".scala"))
    val hits = sources.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().exists(_.contains("org.apache.spark.graphx"))
      finally src.close()
    }
    assert(sources.nonEmpty && hits.isEmpty, hits.mkString(", "))
  }

  test("bfsDepths on a cycle terminates with minimum depths") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val res = GraphXOracles.bfsDepths(spark, edges, seed = 1L, maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("bfsDepthsDF == Pregel bfsDepths on the fixture co-part graph") {
    val edges = Graphs.copartEdges(spark, sfDir).localCheckpoint()
    val seed = edges.agg(org.apache.spark.sql.functions.min(
      org.apache.spark.sql.functions.col("src"))).head().getLong(0)
    val viaDF = Graphs.bfsDepthsDF(spark, edges, seed, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaPregel = GraphXOracles.bfsDepths(spark, edges, seed, maxDepth = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaDF == viaPregel && viaDF.nonEmpty)
  }

  test("bfsDepthsDF early-exits and matches on a cycle") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L))
      .toDF("src", "dst")
    val res = Graphs.bfsDepthsDF(spark, edges, seed = 1L, maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(res == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
  }

  test("bfsDepthsDF: shuffle-join frontier (broadcastRows = 0) == broadcast frontier") {
    // broadcastRows = 0 forces every level down the shuffle-join branch —
    // the path a hub-level frontier takes past FrontierBroadcastRows at
    // scale; results must be identical to the broadcast branch.
    val edges = Graphs.copartEdges(spark, sfDir).localCheckpoint()
    val seed = edges.agg(org.apache.spark.sql.functions.min(
      org.apache.spark.sql.functions.col("src"))).head().getLong(0)
    val viaBcast = Graphs.bfsDepthsDF(spark, edges, seed, maxDepth = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaShuffle = Graphs
      .bfsDepthsDF(spark, edges, seed, maxDepth = 3, broadcastRows = 0L)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaShuffle == viaBcast && viaBcast.nonEmpty)
  }

  test("connectedComponentsDF == GraphX on crafted multi-component graph") {
    import spark.implicits._
    // components {1,2,3,7}, {4,5}, {8,9,10} (chain), plus the 2-cycle 11-12
    val edges = Seq((2L, 1L), (3L, 2L), (7L, 3L), (4L, 5L),
      (9L, 8L), (10L, 9L), (11L, 12L), (12L, 11L))
      .toDF("src", "dst")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L,
      4L -> 4L, 5L -> 4L, 8L -> 8L, 9L -> 8L, 10L -> 8L,
      11L -> 11L, 12L -> 11L)
    // a graph this small takes the driver union-find path, so the star
    // contraction is pinned through its own entry point
    assert(labels(Graphs.starContractionCC(spark, edges)) == want)
    assert(labels(Graphs.connectedComponentsDF(spark, edges)) == want)
  }

  test("CC paths agree: driver union-find == star contraction == GraphX " +
      "== local union-find (random, 8 trials + empty input)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018L)
    for (trial <- 0 to 8) {
      // ids from a pool with negatives and both Long extremes; trial 0
      // is the empty input
      val pool = (Seq(Long.MinValue, Long.MaxValue, Long.MinValue + 1,
          Long.MaxValue - 1, -1L, 0L) ++
        Seq.fill(24)(rnd.nextInt(200).toLong - 100)).distinct
      def v() = pool(rnd.nextInt(pool.length))
      val random = Seq.fill(if (trial == 0) 0 else rnd.nextInt(30))((v(), v()))
      // disjoint pairs (ids no random edge uses), 2-cycles, duplicates,
      // self-loops (one on an id no other edge has, which must not appear)
      val pairs = if (trial == 0) Nil
        else (0 until 3).map(i => (1000L + 10 * trial + 2 * i,
          1001L + 10 * trial + 2 * i))
      val twoCycles = random.take(2).map(_.swap)
      val dups = random.take(3)
      val loops = if (trial == 0) Nil
        else { val x = v(); Seq((x, x), (5000L + trial, 5000L + trial)) }
      val edges = rnd.shuffle(random ++ pairs ++ twoCycles ++ dups ++ loops)
      val df = edges.toDF("src", "dst")
      val want = unionFindLabels(edges)
      assert(labels(Graphs.connectedComponentsDF(spark, df)) == want,
        s"driver union-find (trial $trial)")
      assert(labels(Graphs.starContractionCC(spark, df)) == want,
        s"star contraction (trial $trial)")
      // GraphX keeps the endpoints of self-loops; compare on the rest
      assert(labels(GraphXOracles.connectedComponents(spark,
          edges.filter(e => e._1 != e._2).toDF("src", "dst"))) == want,
        s"GraphX (trial $trial)")
    }
  }

  test("connectedComponentsDF == GraphX on the fixture co-part graph") {
    val edges = Graphs.copartEdges(spark, sfDir).localCheckpoint()
    val viaDF = Graphs.connectedComponentsDF(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaGX = GraphXOracles.connectedComponents(spark, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaDF == viaGX && viaDF.nonEmpty)
  }

  test("triangleCount on known graph") {
    import spark.implicits._
    // K4 minus one edge: triangles = 2
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L))
      .toDF("x", "y")
    assert(Graphs.triangleCount(spark, pairs) == 2L)
    assert(GraphXOracles.triangleCount(spark, pairs) == 2L)
  }

  test("triangles TVF on non-canonical pairs == GraphX TriangleCount") {
    import spark.implicits._
    graft.functions.TableFunctions.ensureRegistered(spark)
    // K4 on {1,2,3,4} (4 triangles) + triangle {5,6,7} + the pendant 7-8,
    // written with reversed duplicates, repeated pairs and self-loops:
    // the undirected simple graph has 5 triangles
    val undirected = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (6L, 7L), (5L, 7L), (7L, 8L))
    val noisy = undirected ++ undirected.take(4).map(_.swap) ++
      Seq((6L, 5L), (3L, 4L), (3L, 4L), (2L, 2L), (8L, 8L), (9L, 9L))
    noisy.toDF("a", "b").createOrReplaceTempView("tvf_noisy_pairs")
    val got = spark.sql(
      "SELECT * FROM triangles('tvf_noisy_pairs', 'a', 'b')").head().getLong(0)
    val want = GraphXOracles.triangleCount(spark,
      noisy.toDF("x", "y"))
    assert(want == 5L && got == want, s"TVF $got vs GraphX $want")
  }

  test("multiSourceBfs == per-seed bfsDepthsDF") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val edges = Graphs.copartEdges(spark, sfDir).localCheckpoint()
    val seeds = edges.select(col("src")).distinct().orderBy("src").limit(3)
      .collect().map(_.getLong(0))
    val multi = Graphs.multiSourceBfs(spark, edges, seeds.toSeq.toDF("id"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val single = seeds.flatMap(sd => Graphs.bfsDepthsDF(spark, edges, sd, 3)
      .collect().map(r => (sd, r.getLong(0), r.getInt(1)))).toSet
    assert(multi == single && multi.nonEmpty)
  }

  test("hitsDF == dense local power iteration; norms and determinism hold") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // small directed graph with asymmetric structure
    val es = Seq((1L, 3L), (1L, 4L), (2L, 3L), (2L, 5L), (3L, 5L), (4L, 5L))
    val edges = es.toDF("src", "dst")
    val iters = 10
    val got = Graphs.hitsDF(spark, edges, iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    // dense oracle: same recurrence, same normalization order
    val ids = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var h = ids.map(_ -> 1.0 / math.sqrt(ids.size)).toMap
    var a = Map.empty[Long, Double]
    for (_ <- 1 to iters) {
      val aRaw = ids.map(v => v -> es.filter(_._2 == v).map(e => h(e._1)).sum).toMap
      val an = math.sqrt(aRaw.values.map(x => x * x).sum)
      a = aRaw.map { case (k, v) => k -> v / an }
      val hRaw = ids.map(v => v -> es.filter(_._1 == v).map(e => a(e._2)).sum).toMap
      val hn = math.sqrt(hRaw.values.map(x => x * x).sum)
      h = hRaw.map { case (k, v) => k -> v / hn }
    }
    ids.foreach { v =>
      assert(math.abs(got(v)._1 - h(v)) < 1e-9, s"hub $v")
      assert(math.abs(got(v)._2 - a(v)) < 1e-9, s"auth $v")
    }
    // L2 norms are 1 and the run is deterministic
    def norm(f: Long => Double) = math.sqrt(ids.map(v => f(v) * f(v)).sum)
    assert(math.abs(norm(v => got(v)._1) - 1.0) < 1e-9)
    assert(math.abs(norm(v => got(v)._2) - 1.0) < 1e-9)
    val again = Graphs.hitsDF(spark, edges, iters)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(again == got)
  }

  test("hashWalks: edge-valid, deterministic, sink-terminated") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 1 -> {2,3}; 2 -> {3,4}; 3 -> {4}; 4 is a sink
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
      .toDF("src", "dst")
    val edgeSet = Set((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L))
    val seeds = Seq(1L, 4L).toDF("id")
    def run() = Graphs.hashWalks(spark, edges, seeds, steps = 4,
        walksPerSeed = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3))).toSet
    val a = run()
    assert(a == run()) // reproducible across runs
    val byWalk = a.groupBy(_._1)
    assert(byWalk.size == 2 * 3) // every (seed, w) walk exists
    byWalk.foreach { case (_, rows) =>
      val path = rows.toSeq.sortBy(_._3)
      // steps are consecutive from 0 and every hop is a real edge
      assert(path.map(_._3) == path.indices)
      path.sliding(2).foreach {
        case Seq(u, v) => assert(edgeSet.contains((u._4, v._4)),
          s"non-edge hop ${u._4}->${v._4}")
        case _ =>
      }
      // a walk ends only at the sink or at the step budget
      val last = path.last
      assert(last._4 == 4L || last._3 == 4, s"early stop: $path")
      // seed-4 walks are single points (sink seed)
      if (path.head._4 == 4L) assert(path.size == 1)
    }
  }

  test("reliable checkpoint mode: BFS and CC identical to local mode, state lands on disk") {
    import graft.ops.Checkpoints
    import spark.implicits._
    // two components: a 4-chain and a 3-chain (both directions)
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    def bfs() = Graphs.bfsDepthsDF(spark, edges, 1L, 5)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // the star contraction, which a graph this small reaches only through
    // its own entry point, and the driver union-find path; both must agree
    def cc() = {
      val star = labels(Graphs.starContractionCC(spark, edges))
      assert(labels(Graphs.connectedComponentsDF(spark, edges)) == star)
      star
    }
    // the maintained folds, whose cuts report their sizes through an
    // Observation: an insert fold, then a delta that retracts the (2,3)
    // bridge and links 4 to the other component
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (the driver delta and the distributed one must agree in each mode)
    def folds() = {
      val ins = graft.streaming.Streams.ccApplyBatch(spark,
        Seq.empty[(Long, Long)].toDF("id", "component"), edges)
      val deltas = Seq(graft.streaming.Streams.ccApplyDelta _,
          graft.streaming.Streams.ccApplyDeltaDistributed _).map { fold =>
        val (lab, live) = fold(spark, ins, edges.transform(Checkpoints.cut),
          Seq((4L, 10L)).toDF("src", "dst"),
          Seq((2L, 3L), (3L, 2L)).toDF("src", "dst"))
        (snap(lab), live.collect().map(r => (r.getLong(0), r.getLong(1)))
          .toSeq.sorted)
      }
      assert(deltas(0) == deltas(1))
      (snap(ins), deltas(0)._1, deltas(0)._2)
    }
    val bfsLocal = bfs()
    val ccLocal = cc()
    val foldsLocal = folds()
    assert(bfsLocal == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3))
    assert(foldsLocal._1 == ccLocal)
    assert(foldsLocal._2 == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
      10L -> 3L, 11L -> 3L, 12L -> 3L))
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    spark.conf.set(Checkpoints.CONF, dir.getAbsolutePath)
    try {
      val bfsRel = Graphs.bfsDepthsDF(spark, edges, 1L, 5)
      // lineage assertion: the returned frame is a scan of the reliably
      // checkpointed state — the iterative join tree is GONE from the
      // plan (so a recompute can never re-run lost iterations) and the
      // RDD lineage bottoms out in a ReliableCheckpointRDD, not
      // executor-local blocks
      assert(bfsRel.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.isEmpty, "reliable-mode BFS result should be a checkpoint scan")
      assert(bfsRel.rdd.toDebugString.contains("ReliableCheckpointRDD"))
      assert(bfsRel.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
        == bfsLocal)
      assert(cc() == ccLocal)
      assert(folds() == foldsLocal)
      // ... and the checkpoint dir actually holds RDD state on disk
      val ckptRoot = new java.io.File(java.net.URI.create(
        spark.sparkContext.getCheckpointDir.get).getPath)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      assert(walk(ckptRoot).exists(_.getName.startsWith("part-")),
        s"no checkpoint part files under $ckptRoot")
    } finally spark.conf.unset(Checkpoints.CONF)
    // back in default mode: same results, no conf leakage
    assert(bfs() == bfsLocal)
  }

  test("connectedComponentsDF job gate: each materialization is ONE cut " +
      "job — the convergence signature runs no job of its own") {
    import spark.implicits._
    // a 64-vertex path takes several two-round steps to contract
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, jobs) = jobSites(
      Graphs.starContractionCC(spark, edges).collect())
    val byAction = jobs.groupBy(_._2).values.map(js => js.head._1 -> js.length)
      .toSeq
    val (cuts, rest) = byAction.partition(
      _._1.startsWith("localCheckpoint at Checkpoints.scala:"))
    // the edge cut, the vertex cut, then one cut per two-round step —
    // and each cut is a single job
    assert(cuts.length >= 4 && cuts.forall(_._2 == 1), jobs)
    // besides the cuts only the two star-forest checks run (no signature
    // job), and then the spec's own collect of the labels
    assert(rest.map(_._1).filterNot(_.startsWith("collect at GraphOpsSpec"))
      .sorted.map(_.takeWhile(_ != ':')) ==
      Seq("count at Graphs.scala", "count at Graphs.scala"), jobs)
    assert(labels.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 64L).map(_ -> 1L).toMap)
  }

  test("connectedComponentsDF job gate: a broadcast-sized input runs two " +
      "jobs — the edge cut and the collect of its edges") {
    import spark.implicits._
    // the 64-vertex path the star contraction needs several steps for
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("src", "dst")
    val (labels, jobs) = jobSites(
      Graphs.connectedComponentsDF(spark, edges).collect())
    assert(jobs.map(_._1.takeWhile(_ != ':')) ==
      Seq("localCheckpoint at Checkpoints.scala", "collect at Graphs.scala"),
      jobs)
    assert(labels.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (1L to 64L).map(_ -> 1L).toMap)
  }

  test("pathCountBfs: counts == shortest-path enumeration (hand + random)") {
    import spark.implicits._
    // diamond + tail: 1->4 has TWO shortest paths (via 2 and via 3),
    // both extending to 5; 6 hangs off 2 (one path, depth 2)
    val hand = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (2L, 6L)).toDF("src", "dst")
    val got = Graphs.pathCountBfs(spark, hand,
        Seq(1L).toDF("id"), maxDepth = 3)
      .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3))).toMap
    assert(got == Map(1L -> (0, 1L), 2L -> (1, 1L), 3L -> (1, 1L),
      4L -> (2, 2L), 6L -> (2, 1L), 5L -> (3, 2L)))

    // random digraphs vs a local walk-enumeration oracle (the same
    // argument the g20 DuckDB oracle rests on: a walk whose length
    // equals its endpoint's min walk-length is a simple shortest path)
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 5) {
      val n = 25
      val edges = (1 to 60).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val maxD = 4
      // enumerate all walks <= maxD from seed 0, tally by (endpoint, len)
      val tally = scala.collection.mutable.Map[(Long, Int), Long]((0L, 0) -> 1L)
      var frontier: Map[Long, Long] = Map(0L -> 1L) // endpoint -> walk count
      for (d <- 1 to maxD) {
        val next = scala.collection.mutable.Map[Long, Long]()
        frontier.foreach { case (v, c) =>
          adj.getOrElse(v, Seq.empty).foreach { w =>
            next(w) = next.getOrElse(w, 0L) + c
          }
        }
        next.foreach { case (v, c) => tally((v, d)) = c }
        frontier = next.toMap
      }
      val want = tally.keys.groupBy(_._1).map { case (v, ks) =>
        val dmin = ks.map(_._2).min
        v -> (dmin, tally((v, dmin)))
      }
      val res = Graphs.pathCountBfs(spark, edges.toDF("src", "dst"),
          Seq(0L).toDF("id"), maxDepth = maxD)
        .collect().map(r => r.getLong(1) -> (r.getInt(2), r.getLong(3)))
        .toMap
      assert(res == want, s"trial $trial")
    }
  }

  test("brandesDependencies == local Brandes oracle (hand + random digraphs, multi-seed)") {
    import spark.implicits._

    // local single-source Brandes with the same level cutoff: forward
    // BFS with σ counts, then the reverse sweep
    // δ(v) = Σ_{(v,w) DAG} σ(v)/σ(w) · (1 + δ(w))
    def localBrandes(adj: Map[Long, Seq[Long]], s: Long,
        maxD: Int): Map[Long, Double] = {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = List(s)
      var d = 0
      while (frontier.nonEmpty && d < maxD) {
        d += 1
        val next = scala.collection.mutable.LinkedHashSet[Long]()
        for (v <- frontier; w <- adj.getOrElse(v, Seq.empty)) {
          if (!dist.contains(w)) { dist(w) = d; next += w }
          if (dist(w) == d) sigma(w) = sigma.getOrElse(w, 0L) + sigma(v)
        }
        frontier = next.toList
      }
      val delta = scala.collection.mutable.Map[Long, Double]()
        .withDefaultValue(0.0)
      val byLevelDesc = dist.toSeq.groupBy(_._2).toSeq.sortBy(-_._1)
      for ((lvl, vs) <- byLevelDesc; (v, _) <- vs if lvl < maxD)
        for (w <- adj.getOrElse(v, Seq.empty)
             if dist.get(w).contains(lvl + 1))
          delta(v) += sigma(v).toDouble / sigma(w) * (1.0 + delta(w))
      dist.keys.map(v => v -> delta(v)).toMap
    }

    // hand case — diamond + tail (same fixture as pathCountBfs):
    // δ(4) = 1 (only 5 downstream), δ(2) = 0.5·(1+1) + 1 (4 via half the
    // paths, plus 6), δ(3) = 0.5·(1+1) = 1, δ(1) = 1+2+1... verified by
    // the oracle; the point of the hand case is the oracle itself.
    val hand = Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L), (4L, 5L),
      (2L, 6L)).toDF("src", "dst")
    val handAdj = Map(1L -> Seq(2L, 3L), 2L -> Seq(4L, 6L),
      3L -> Seq(4L), 4L -> Seq(5L))
    val handWant = localBrandes(handAdj, 1L, 3)
    val handGot = Graphs.brandesDependencies(spark, hand,
        Seq(1L).toDF("id"), maxDepth = 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(4)).toMap
    assert(handGot.keySet == handWant.keySet)
    handWant.foreach { case (v, dl) =>
      assert(math.abs(handGot(v) - dl) < 1e-9, s"hand δ($v)") }
    assert(math.abs(handGot(4L) - 1.0) < 1e-9 &&
      math.abs(handGot(2L) - 2.0) < 1e-9 &&
      math.abs(handGot(3L) - 1.0) < 1e-9)

    // random digraphs, 3 seeds at once — the engine's multi-seed sweep
    // must equal 3 independent local runs
    val rnd = new scala.util.Random(57)
    for (trial <- 1 to 5) {
      val n = 30
      val edges = (1 to 90).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val seeds = Seq(0L, 1L, 2L)
      val maxD = 4
      val want = seeds.flatMap(s =>
        localBrandes(adj, s, maxD).map { case (v, dl) => (s, v) -> dl })
        .toMap
      val got = Graphs.brandesDependencies(spark, edges.toDF("src", "dst"),
          seeds.toDF("id"), maxDepth = maxD)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(4))
        .toMap
      assert(got.keySet == want.keySet, s"trial $trial vertex sets")
      want.foreach { case (k, dl) =>
        assert(math.abs(got(k) - dl) < 1e-9, s"trial $trial δ$k") }
    }
  }

  test("kTrussPeel == local peeling oracle (hand + random graphs)") {
    import spark.implicits._

    def localTruss(pairs: Set[(Long, Long)], k: Int,
        rounds: Int): Set[(Long, Long)] = {
      var e = pairs
      for (_ <- 1 to rounds) {
        def connected(a: Long, b: Long) =
          e.contains((math.min(a, b), math.max(a, b)))
        val verts = e.flatMap(p => Seq(p._1, p._2))
        e = e.filter { case (x, y) =>
          verts.count(w => w != x && w != y &&
            connected(x, w) && connected(y, w)) >= k - 2
        }
      }
      e
    }

    // hand case: a triangle with a pendant edge — the pendant dies in
    // round 1 at k=3, the triangle survives both rounds
    val hand = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val handGot = Graphs.kTrussPeel(spark, hand, k = 3, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(handGot == Set((1L, 2L), (1L, 3L), (2L, 3L)))

    // a chained collapse: two triangles sharing edge (2,3), one edge of
    // the second triangle also in NO other triangle — removing nothing
    // round 1 (all edges in a triangle), so survivors are stable
    val rnd = new scala.util.Random(91)
    for (trial <- 1 to 5) {
      val n = 18
      val pairs = (1 to 70).map { _ =>
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }.filter(p => p._1 != p._2).distinct
      val want = localTruss(pairs.toSet, k = 3, rounds = 3)
      val got = Graphs.kTrussPeel(spark, pairs.toDF("x", "y"),
          k = 3, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want, s"trial $trial")
      // k=4 is strictly tighter
      val want4 = localTruss(pairs.toSet, k = 4, rounds = 3)
      val got4 = Graphs.kTrussPeel(spark, pairs.toDF("x", "y"),
          k = 4, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got4 == want4 && got4.subsetOf(got), s"trial $trial k=4")
    }
  }

  test("stronglyConnectedComponents == mutual-reachability oracle (hand + random digraphs)") {
    import spark.implicits._

    // Floyd–Warshall mutual reachability: obviously-correct SCC on small
    // graphs — scc_id = min over {w : v ->* w and w ->* v}
    def localScc(edges: Set[(Long, Long)]): Map[Long, Long] = {
      val verts = edges.flatMap(p => Seq(p._1, p._2)).toSeq.sorted
      val idx = verts.zipWithIndex.toMap
      val n = verts.size
      val reach = Array.fill(n, n)(false)
      verts.indices.foreach(i => reach(i)(i) = true)
      edges.foreach { case (a, b) => reach(idx(a))(idx(b)) = true }
      for (k <- 0 until n; i <- 0 until n; j <- 0 until n)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      verts.map(v => v -> verts.filter(w =>
        reach(idx(v))(idx(w)) && reach(idx(w))(idx(v))).min).toMap
    }

    def run(edges: Set[(Long, Long)], rounds: Int = 6): Map[Long, Long] =
      Graphs.stronglyConnectedComponents(spark,
          edges.toSeq.toDF("src", "dst"), rounds = rounds, iters = 8)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // hand case: 3-cycle feeding a 2-cycle feeding a chain
    val hand = Set((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
      (5L, 4L), (5L, 6L), (6L, 7L))
    assert(run(hand) == localScc(hand))
    assert(localScc(hand)(2L) == 1L && localScc(hand)(5L) == 4L &&
      localScc(hand)(7L) == 7L) // sanity: the oracle itself

    val rnd = new scala.util.Random(47)
    for (trial <- 1 to 5) {
      val n = 14
      val edges = (1 to 34).map { _ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }.filter(p => p._1 != p._2).toSet
      assert(run(edges) == localScc(edges), s"trial $trial")
    }
  }

  test("sccTrimmed == stronglyConnectedComponents (hand + random digraphs)") {
    import spark.implicits._
    def runBoth(edges: Set[(Long, Long)]): (Map[Long, Long], Map[Long, Long]) = {
      val df = edges.toSeq.toDF("src", "dst")
      val plain = Graphs.stronglyConnectedComponents(spark, df,
          rounds = 6, iters = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val trimmed = Graphs.sccTrimmed(spark, df,
          trimRounds = 16, rounds = 6, iters = 10)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (plain, trimmed)
    }
    // hand cases exercising every trim shape: pure chain (all trimmed),
    // cycle + tail (partial trim), cycle only (nothing trims)
    for (hand <- Seq(
        Set((1L, 2L), (2L, 3L), (3L, 4L)),
        Set((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)),
        Set((1L, 2L), (2L, 3L), (3L, 1L)))) {
      val (p, t) = runBoth(hand)
      assert(p == t, s"hand $hand")
    }
    val rnd = new scala.util.Random(53)
    for (trial <- 1 to 5) {
      val n = 14
      val edges = (1 to 30).map { _ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1)
      }.filter(p => p._1 != p._2).toSet
      val (p, t) = runBoth(edges)
      assert(p == t, s"trial $trial")
    }
    // trim bound is best-effort, never a correctness bound: one cheap
    // round, deep chain — coloring picks up whatever trim left behind
    val chain = (1L to 9L).map(i => (i, i + 1)).toSet
    // (the leftover chain settles ONE forward-root per coloring round —
    // the very cost profile trim exists to avoid)
    val one = Graphs.sccTrimmed(spark, chain.toSeq.toDF("src", "dst"),
        trimRounds = 1, rounds = 12, iters = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one == (1L to 10L).map(i => i -> i).toMap)
  }

  test("stronglyConnectedComponents THROWS on non-convergence, never mislabels") {
    import spark.implicits._
    // An 8-cycle needs 7 forward propagation steps (+1 to prove the
    // fixpoint); iters=2 must throw — the r8 shape would instead settle
    // a split coloring and return a silently wrong partition.
    val ring = (1L to 8L).map(i => (i, i % 8 + 1)).toDF("src", "dst")
    val ex = intercept[IllegalArgumentException] {
      Graphs.stronglyConnectedComponents(spark, ring, rounds = 4, iters = 2)
        .collect()
    }
    assert(ex.getMessage.contains("fixpoint still changing"))
    // with honest bounds the same ring is one SCC rooted at 1
    val ok = Graphs.stronglyConnectedComponents(spark, ring,
        rounds = 2, iters = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == (1L to 8L).map(i => (i, 1L)).toSet)
  }

  test("doubleSweepEcc: exact diameter on trees, bound on cycles") {
    import spark.implicits._
    def sym(e: Seq[(Long, Long)]) = (e ++ e.map(_.swap)).toDF("src", "dst")
    // path 1-2-3-4-5: sweep 1 from 1 peaks at 5 (dist 4); sweep 2 from
    // 5 gives eccentricity 4 — the exact diameter (trees are exact)
    val path = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    val r1 = Graphs.doubleSweepEcc(spark, path, maxDepth = 10).head()
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2)) == ((1L, 5L, 4L)))
    // star around 1: peak = leaf 2 (dist 1, tie -> min id), ecc 2
    val star = sym(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
    val r2 = Graphs.doubleSweepEcc(spark, star, maxDepth = 10).head()
    assert((r2.getLong(0), r2.getLong(1), r2.getLong(2)) == ((1L, 2L, 2L)))
    // 6-cycle: true diameter 3, double sweep must report >= 3 (here 3)
    val cyc = sym((1L to 6L).map(i => (i, i % 6 + 1)))
    val r3 = Graphs.doubleSweepEcc(spark, cyc, maxDepth = 10).head()
    assert(r3.getLong(2) == 3L)
  }

  test("latestDeparture: deadline prunes edges, backward chain propagates") {
    import spark.implicits._
    // two parallel temporal edges 1→2 plus an upstream hop 0→1
    val edges = Seq(
      (0L, 1L, 5L, 8L),    // avail 5, arrive 8
      (1L, 2L, 10L, 20L),
      (1L, 2L, 15L, 25L)).toDF("src", "dst", "avail_us", "arrive_us")
    def run(deadline: Long): Map[Long, Long] =
      Graphs.latestDeparture(spark, edges, target = 2L,
          deadlineUs = deadline, maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deadline 22: only the arrive-20 edge works -> depart(1) = 10;
    // upstream 0 must arrive 1 by 10 (arrive 8 <= 10) -> depart(0) = 5
    assert(run(22L) == Map(2L -> 22L, 1L -> 10L, 0L -> 5L))
    // deadline 30 admits the later edge -> depart(1) = 15
    assert(run(30L) == Map(2L -> 30L, 1L -> 15L, 0L -> 5L))
    // deadline 19: no edge into 2 arrives in time — only the target
    assert(run(19L) == Map(2L -> 19L))
  }

  test("fastestJourney: later start wins, Pareto frontier kept per vertex") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 0L, 10L),   // start 0, arrive 10
      (1L, 2L, 5L, 50L),   // start 5, arrive 50 — later start, later arrive
      (2L, 4L, 20L, 21L),  // only reachable from the (0,10) pair
      (2L, 4L, 60L, 61L),  // reachable from both pairs
      (1L, 3L, 90L, 95L),  // direct late sprint to 3
      (2L, 3L, 12L, 97L)   // early path to 3: start 0, arrive 97
    ).toDF("src", "dst", "avail_us", "arrive_us")
    val got = Graphs.fastestJourney(spark, edges, seed = 1L, maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // v2: min(10-0, 50-5) = 10; v4: min(21-0, 61-5) = 21
    // v3: the late sprint (95-90=5) beats the early path (97-0=97) —
    //     exactly the case a single earliest-arrival scalar cannot see
    assert(got == Map(2L -> 10L, 4L -> 21L, 3L -> 5L))
  }

  test("restrictedBetweenness: <2 distance-3 targets THROWS, two-paths exact") {
    import spark.implicits._
    // the operator's contract input is a SYMMETRIC edge list (its copart
    // fixture ships both directions — the backward σ pass follows
    // forward edges of the transpose-free list)
    def sym(e: Seq[(Long, Long)]) =
      (e ++ e.map(_.swap)).toDF("src", "dst")
    // path 1–2–3–4 has exactly ONE distance-3 target — must throw
    // rather than diverge from the oracle's empty cross-target join
    val ex = intercept[IllegalArgumentException] {
      Graphs.restrictedBetweenness(spark,
        sym(Seq((1L, 2L), (2L, 3L), (3L, 4L)))).collect()
    }
    assert(ex.getMessage.contains(">=2 distance-3 targets"))

    // two disjoint length-3 paths from 1: targets {7, 8}, each σ = 1,
    // scales = 1; interiors get σ_s·σ_t·scale = 1 per pair they serve
    val twoPaths = sym(Seq((1L, 2L), (2L, 3L), (3L, 7L),
      (1L, 4L), (4L, 5L), (5L, 8L)))
    val got = Graphs.restrictedBetweenness(spark, twoPaths)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("restrictedEdgeBetweenness == local path-edge enumeration (random)") {
    import spark.implicits._
    // Every length-3 walk from the seed to a distance-3 node is a
    // shortest path (each step must raise the BFS level by exactly 1),
    // so local enumeration is trivial: 3 nested adjacency expansions.
    val rnd = new scala.util.Random(29)
    var done = 0
    var trial = 0
    while (done < 4 && trial < 40) {
      trial += 1
      val n = 12
      val und = (1 to 22).map(_ =>
        (rnd.nextInt(n).toLong + 1, rnd.nextInt(n).toLong + 1))
        .filter(p => p._1 != p._2).toSet
      val sym = und ++ und.map(p => (p._2, p._1))
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        .withDefaultValue(Set.empty[Long])
      val seed = sym.map(_._1).min
      // local BFS levels
      var dist = Map(seed -> 0)
      var frontier = Set(seed)
      for (d <- 1 to 3) {
        frontier = frontier.flatMap(adj).filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      val targets = dist.collect { case (v, 3) => v }.toSeq.sorted.take(3)
      if (targets.size >= 2) {
        val tset = targets.toSet
        val paths = for {
          v1 <- adj(seed).toSeq; v2 <- adj(v1).toSeq; v3 <- adj(v2).toSeq
          if tset.contains(v3)
        } yield Seq(seed, v1, v2, v3)
        val sigma = paths.groupBy(_.last).map { case (t, ps) => t -> ps.size.toLong }
        if (sigma.size >= 2) {
          val scale = sigma.map { case (t, _) =>
            t -> sigma.filter(_._1 != t).values.product
          }
          val want = paths.flatMap { p =>
            p.sliding(2).map(a => (a(0), a(1)) -> scale(p.last))
          }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
          val got = Graphs.restrictedEdgeBetweenness(spark,
              sym.toSeq.toDF("src", "dst"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
          assert(got == want, s"trial $trial")
          done += 1
        }
      }
    }
    assert(done == 4, s"only $done eligible random graphs in $trial trials")
  }

  test("reliable checkpoints reap mid-loop: dead rounds' files are deleted") {
    // cleanCheckpoints=true (static conf, SparkSpecBase) + the natural
    // loop shape `state = cut(step(state))` — each round drops the only
    // reference to the previous round's checkpoint, so the
    // ContextCleaner deletes its files on GC while the loop is still
    // running. Without this a 100-round PageRank accretes
    // iterations × state on the checkpoint store until app exit.
    import graft.ops.Checkpoints
    import org.apache.spark.sql.functions.col
    assert(spark.sparkContext.getConf
      .getBoolean("spark.cleaner.referenceTracking.cleanCheckpoints", false),
      "cleaner conf must be set at context creation")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-reap").toFile
    spark.conf.set(Checkpoints.CONF, dir.getAbsolutePath)
    try {
      var state = spark.range(0, 1000).toDF("id")
      for (_ <- 1 to 6) state = Checkpoints.cut(
        state.withColumn("id", col("id") + 1))
      // the sticky session checkpoint root (may predate this test)
      val root = new java.io.File(java.net.URI.create(
        spark.sparkContext.getCheckpointDir.get).getPath)
      def rddDirs(): Int =
        Option(root.listFiles()).map(_.count(_.getName.startsWith("rdd-")))
          .getOrElse(0)
      // 6 rounds checkpointed; reaping may have ALREADY fired during the
      // loop (that's the point), so assert the steady state: only the
      // live round (plus at most one not-yet-collected straggler) keeps
      // its files once GC catches up — not O(iterations) accretion
      val total = rddDirs()
      assert(total >= 1, "no checkpoint dirs written at all")
      val deadline = System.currentTimeMillis() + 30000
      while (rddDirs() > 2 && System.currentTimeMillis() < deadline) {
        System.gc(); Thread.sleep(250)
      }
      assert(rddDirs() <= 2,
        s"no mid-run reaping: still ${rddDirs()} checkpoint dirs of 6 rounds")
      // the live round survives the reaping intact
      assert(state.agg(org.apache.spark.sql.functions.sum("id"))
        .head().getLong(0) == (0L until 1000L).sum + 6 * 1000)
    } finally spark.conf.unset(Checkpoints.CONF)
  }

  /** Capture the executed plans of every listened Dataset action fired
    * inside `f` — the iterative traversals materialize each level via a
    * lineage cut (a listened action), so this is the ONLY external view
    * of their per-level join shapes (the returned frame is just a
    * checkpoint scan). The listener bus is async; a sentinel query
    * flushes it (FIFO: once the sentinel's plan surfaces, every earlier
    * event has too).
    */
  def capturePlans(f: => Unit): Seq[String] = {
    val plans = scala.collection.mutable.Buffer[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan.toString }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      f
      spark.range(1).withColumnRenamed("id", "__plan_sentinel").collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!plans.synchronized(plans.exists(_.contains("__plan_sentinel"))) &&
          System.nanoTime() < deadline) Thread.sleep(50)
      assert(plans.synchronized(plans.exists(_.contains("__plan_sentinel"))),
        "listener flush timed out")
    } finally spark.listenerManager.unregister(listener)
    plans.synchronized(plans.toSeq)
  }

  test("bfsDepthsDF: frontier flip fires BY SIZE at the default threshold") {
    // No branch forcing: broadcastRows stays at the production default
    // (FrontierBroadcastRows = 4M). The fixture makes the flip happen
    // naturally within ONE run — the seed probe (1 row) takes the
    // broadcast branch, then a fan-out level pushes the next frontier
    // past 4M rows and THAT probe must shuffle-join, chosen by the
    // measured frontier size alone.
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val n = Graphs.FrontierBroadcastRows + 100 // frontier just past the cliff
    val spokes = spark.range(2L, 2L + n)
    val edges = spokes.select(lit(1L).as("src"), col("id").as("dst"))
      .unionAll(spokes.select(col("id").as("src"), lit(0L).as("dst")))
    withoutAutoBroadcast {
      val plans = capturePlans {
        val depths = Graphs.bfsDepthsDF(spark, edges, seed = 1L, maxDepth = 2)
        assert(depths.count() == n + 2) // seed + n spokes + node 0
        assert(depths.filter(col("id") === 0L).head().getInt(1) == 2)
      }
      assert(plans.exists(_.contains("BroadcastHashJoin")),
        "the 1-row seed probe should have taken the broadcast branch")
      assert(plans.exists(p =>
        p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
        s"the ${n}-row frontier probe never took the shuffle branch")
    }
  }

  test("weightedDistancesDF: both frontier branches — plan shapes differ, results equal") {
    import spark.implicits._
    // weighted diamond + tail: relaxation must revisit 4 via the cheaper
    // 1->3->4 path after first reaching it through 1->2->4
    val edges = Seq(
      (1L, 2L, 1L), (2L, 4L, 10L), (1L, 3L, 2L), (3L, 4L, 3L),
      (4L, 5L, 1L), (2L, 3L, 100L)).toDF("src", "dst", "weight")
    val expect = Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 5L, 5L -> 6L)
    withoutAutoBroadcast {
      // broadcast branch: every relax join probes a broadcast frontier
      val bcastPlans = capturePlans {
        assert(Graphs.weightedDistancesDF(spark, edges, 1L,
            broadcastRows = Long.MaxValue)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
      }
      assert(bcastPlans.exists(_.contains("BroadcastHashJoin")),
        "broadcast branch never planned a BroadcastHashJoin")
      // shuffle branch (broadcastRows = 0, the post-hub-explosion path):
      // with auto-broadcast off, NO broadcast join may appear anywhere
      val shufPlans = capturePlans {
        assert(Graphs.weightedDistancesDF(spark, edges, 1L,
            broadcastRows = 0L)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == expect)
      }
      assert(!shufPlans.exists(_.contains("BroadcastHashJoin")),
        "shuffle branch still broadcast a frontier")
      assert(shufPlans.exists(p =>
        p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
        "shuffle branch planned no shuffle join at all")
    }
  }

  test("assortativityMoments: path gives exactly r = -1, star too") {
    import spark.implicits._
    def moments(ps: Seq[(Long, Long)]): (Long, Long, Long, Long, Long, Long) = {
      val r = Graphs.assortativityMoments(ps.toDF("x", "y")).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
    }
    def rOf(t: (Long, Long, Long, Long, Long, Long)): Double = {
      val (m, xy, x, y, x2, y2) = t
      (m.toDouble * xy - x.toDouble * y) /
        math.sqrt((m.toDouble * x2 - x.toDouble * x) *
          (m.toDouble * y2 - y.toDouble * y))
    }
    // path 1-2-3: degrees 1,2,1; hand moments m=4, Σxy=8, Σx=Σy=6,
    // Σx²=Σy²=10 → r = (32−36)/(40−36) = −1 (ends only touch the middle)
    val path = moments(Seq((1L, 2L), (2L, 3L)))
    assert(path == ((4L, 8L, 6L, 6L, 10L, 10L)))
    assert(rOf(path) == -1.0)
    // any star is perfectly disassortative too
    assert(rOf(moments(Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))) == -1.0)
  }

  test("clusteringCoefficients: hand triangle+pendant, brute-force random") {
    import spark.implicits._
    // triangle {1,2,3} + pendant edge 3-4: v1/v2 close their only wedge
    // (coeff 1e6), v3 closes 1 of 3 (333333), v4 has deg 1 -> excluded
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("x", "y")
    val got = Graphs.clusteringCoefficients(pairs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got == Map(
      1L -> (1L, 1L, 1000000L), 2L -> (1L, 1L, 1000000L),
      3L -> (1L, 3L, 333333L)))
    // randomized brute force
    val rnd = new scala.util.Random(61)
    val n = 10
    val ps = (for {
      x <- 0 until n; y <- x + 1 until n if rnd.nextInt(100) < 35
    } yield (x.toLong, y.toLong)).toSet
    val adj = ps.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    val want = adj.collect { case (v, nbrs) if nbrs.size >= 2 =>
      val tri = nbrs.toSeq.combinations(2).count {
        case Seq(p, q) => ps.contains((math.min(p, q), math.max(p, q)))
      }.toLong
      val wedges = nbrs.size.toLong * (nbrs.size - 1) / 2
      v -> (tri, wedges, 1000000L * tri / wedges)
    }
    val got2 = Graphs.clusteringCoefficients(ps.toSeq.toDF("x", "y"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got2 == want)
  }

  test("modularity: hand-computed two-triangle graph; one community == 0") {
    import spark.implicits._
    // two triangles {1,2,3} {4,5,6} bridged by 3-4: m = 7, degrees
    // 2,2,3,3,2,2; split by triangle -> e_in 3 each, deg_sum 7 each,
    // q_num = 4*7*3 - 49 = 35 each (Q = 70/196).
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("x", "y")
    val split = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "label")
    val got = Graphs.modularity(pairs, split)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((1L, 3L, 3L, 7L, 35L), (4L, 3L, 3L, 7L, 35L)))
    // the degenerate single-community partition has Q exactly 0:
    // e_in = m, deg_sum = 2m, q_num = 4m^2 - 4m^2 = 0
    val one = Seq(1L, 2L, 3L, 4L, 5L, 6L).map(_ -> 9L).toDF("id", "label")
    val q0 = Graphs.modularity(pairs, one).collect()
    assert(q0.length == 1 && q0(0).getLong(4) == 0L)
    // isolated vertices stay counted: vertex 7 has no edge but belongs
    // to community 1; an all-isolated community 8 must appear as
    // (8, 1, 0, 0, 0), not vanish
    val withIso = split.union(Seq((7L, 1L), (8L, 8L)).toDF("id", "label"))
    val iso = Graphs.modularity(pairs, withIso)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(iso == Set((1L, 4L, 3L, 7L, 35L), (4L, 3L, 3L, 7L, 35L),
      (8L, 1L, 0L, 0L, 0L)))
  }

  test("louvainOneLevel: two planted K4s recovered; Q monotone per round") {
    import spark.implicits._
    // two 4-cliques {1..4} {5..8} bridged by 4-5: m = 13. From
    // singletons, round 1 moves every vertex to its best neighbor
    // community — NOT the bridge vertices' (their degree-4 endpoints
    // make the bridge-side gain 28 vs 34), so each clique splits into
    // a 3-member community + the odd one out; round 2 collapses each
    // clique onto its majority label — the planted partition.
    // Synchronous moves carry no general Q guarantee; THIS instance
    // must be monotone, and is (hand-checked q_num sums: singletons
    // -86 -> {1}{2,3,4}{6}{5,7,8} = 94 -> planted 286, then stable).
    val pairs = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L), (4L, 5L))).toDF("x", "y")
    import org.apache.spark.sql.functions.{col, sum => fsum}
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      Graphs.modularity(pairs,
          labels.select(col("id"), col("community").as("label")))
        .agg(fsum("q_num")).head().getLong(0)
    val qs = (0 to 3).map(r =>
      q(Graphs.louvainOneLevel(spark, pairs, rounds = r)))
    assert(qs == Seq(-86L, 94L, 286L, 286L))
    // rounds 2 and 3 both sit at the planted two-community partition
    val fin = Graphs.louvainOneLevel(spark, pairs, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groups = fin.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groups == Set(Set(1L, 2L, 3L, 4L), Set(5L, 6L, 7L, 8L)))
  }

  test("louvainTwoLevel: level 2 merges level-1 fragments; Q strictly rises") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    def q(pairs: org.apache.spark.sql.DataFrame,
        labels: org.apache.spark.sql.DataFrame): Long =
      Graphs.modularity(pairs,
          labels.select(col("id"), col("community").as("label")))
        .agg(fsum("q_num")).head().getLong(0)
    // Two triangles {1,2,3} {4,5,6} bridged by 3-4, plus a distant K8
    // ballast {11..18} that raises m to 35 so merging two level-1
    // fragments is modularity-positive. Level 1 (2 synchronous rounds)
    // leaves each triangle SPLIT ({1,3}+{2}, {4,5}+{6} — the bridge
    // asymmetry stalls the round-2 collapse that the planted-K4 fixture
    // enjoys); no single vertex move can heal it. Level 2 relocates the
    // whole fragment at once: the quotient's singleton communities are
    // mutually-best pairs, the swap-suppression guard turns the would-be
    // label swap into a merge, and both triangles reassemble —
    // Q 1006 -> 1526 (4m²-scale, m=35), strictly up.
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
    val k8 = for { x <- 11L to 18L; y <- x + 1 to 18L } yield (x, y)
    val pairs = (tri ++ k8).toDF("x", "y")
    val l1 = Graphs.louvainOneLevel(spark, pairs, rounds = 2)
    val l2 = Graphs.louvainTwoLevel(spark, pairs, rounds = 2)
    assert(q(pairs, l1) == 1006L && q(pairs, l2) == 1526L)
    val m2 = l2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val groups = m2.groupBy(_._2).values.map(_.keys.toSet).toSet
    assert(groups == Set(Set(1L, 2L, 3L), Set(4L, 5L, 6L),
      (11L to 18L).toSet))
    // COARSENING invariant: every level-1 community lands whole inside
    // one level-2 community (level 2 moves communities, never splits)
    val m1 = l1.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    m1.groupBy(_._2).values.foreach { member =>
      assert(member.keys.map(m2).toSet.size == 1)
    }
    // Already-optimal level-1 partitions pass through UNCHANGED: on the
    // planted-K4 fixture (+K9 ballast) level 2 finds no positive move.
    val k4s = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 6L), (5L, 7L), (5L, 8L), (6L, 7L), (6L, 8L),
      (7L, 8L), (4L, 5L))
    val k9 = for { x <- 11L to 19L; y <- x + 1 to 19L } yield (x, y)
    val pk = (k4s ++ k9).toDF("x", "y")
    val a1 = Graphs.louvainOneLevel(spark, pk, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    val a2 = Graphs.louvainTwoLevel(spark, pk, rounds = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(a1 == a2)
  }

  test("louvainMultiLevel: level 3 merges what level 2 left, Q strictly " +
      "rises, and a zero-move level stops the loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, sum => fsum}
    // A 3-scale hierarchy: two triangle-pair motifs (triangles {1,2,3}
    // {4,5,6} bridged 3-4; {21,22,23} {24,25,26} bridged 23-24), a weak
    // A-B bridge 6-21, and K8 ballast {41..48} tuned so m = 43 sits in
    // the band where triangle-pair merges are Q-positive (2m > d², d≈7)
    // but 6-group merges are not (2m < d², d≈16). Level 1 leaves
    // fragments, level 2 reassembles the four triangles, level 3 merges
    // each bridged triangle pair into its 6-group — a merge only the
    // SECOND contraction can perform — and level 4 applies zero moves,
    // so maxLevels 3, 4, 5 all return the same labels.
    def tri(b: Long) = Seq((b, b + 1), (b, b + 2), (b + 1, b + 2))
    val k8 = for { x <- 41L to 48L; y <- x + 1 to 48L } yield (x, y)
    val pairs = (tri(1) ++ tri(4) ++ Seq((3L, 4L)) ++ tri(21) ++ tri(24)
      ++ Seq((23L, 24L)) ++ Seq((6L, 21L)) ++ k8).toDF("x", "y")
    def q(labels: org.apache.spark.sql.DataFrame): Long =
      Graphs.modularity(pairs,
          labels.select(col("id"), col("community").as("label")))
        .agg(fsum("q_num")).head().getLong(0)
    def run(ml: Int) = {
      val l = Graphs.louvainMultiLevel(spark, pairs, rounds = 2,
        maxLevels = ml)
      val m = l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      (q(l), m.groupBy(_._2).values.map(_.keys.toSet).toSet)
    }
    val (q1, g1) = run(1)
    val (q2, g2) = run(2)
    val (q3, g3) = run(3)
    assert(q1 == 2230L && q2 == 3518L && q3 == 3638L) // strictly rising
    assert(g2.contains(Set(1L, 2L, 3L)) && g2.contains(Set(4L, 5L, 6L)))
    assert(g3 == Set((1L to 6L).toSet, (21L to 26L).toSet,
      (41L to 48L).toSet))
    // convergence: the 4th level moves nothing and the loop stops —
    // deeper maxLevels return identical labels
    assert(run(4) == ((q3, g3)) && run(5) == ((q3, g3)))
    assert(g1 != g2 && g2 != g3)
  }

  test("corenessHIndex: clique+chain coreness exact; extra rounds are " +
      "a fixpoint; 3-core peel agrees") {
    import spark.implicits._
    // K4 {1..4} with a pendant chain 4-5-6-7: coreness 3 on the clique
    // (vertex 4's degree is 4 but its core is 3), 1 on the chain
    import org.apache.spark.sql.functions.col
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L), (6L, 7L)).toDF("x", "y")
    val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
    def run(r: Int) = Graphs.corenessHIndex(spark, edges, rounds = r)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val got = run(8)
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L,
      5L -> 1L, 6L -> 1L, 7L -> 1L))
    // h-index iteration converges fast and only decreases — round 3
    // already sits at the fixpoint here
    assert(run(3) == got)
    // cross-check against the single-k peel: the 3-core is exactly the
    // coreness >= 3 set
    val core3 = Graphs.kCorePeelDF(spark, edges, k = 3, rounds = 8)
      .collect().map(_.getLong(0)).toSet
    assert(core3 == got.filter(_._2 >= 3L).keySet)
  }

  test("louvainWeightedGraph: edge weights matter — a heavy bridge " +
      "merges what a unit bridge keeps apart") {
    import spark.implicits._
    // two triangles bridged 3-4 + K8 ballast; unit weights keep the
    // triangles separate communities after 2 rounds, but a heavy (w=9)
    // bridge makes the bridge endpoints' merge dominate
    val tri = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L))
    val k8 = for { x <- 11L to 18L; y <- x + 1 to 18L } yield (x, y, 1L)
    def run(bridgeW: Long): Set[Set[Long]] = {
      val wp = (tri ++ Seq((3L, 4L, bridgeW)) ++ k8).toDF("x", "y", "w")
      Graphs.louvainWeightedGraph(spark, wp, rounds = 2)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        .groupBy(_._2).values.map(_.keys.toSet).toSet
    }
    val light = run(1L)
    val heavy = run(9L)
    // unit bridge: 3 and 4 stay with their triangles
    assert(light.exists(g => g.contains(3L) && !g.contains(4L)))
    // heavy bridge: 3 and 4 end up together
    assert(heavy.exists(g => g.contains(3L) && g.contains(4L)))
    assert(light != heavy)
  }

  test("louvainMultiLevelWeighted: heavy bridge merges at level 1, " +
      "loop converges (deeper maxLevels identical)") {
    import spark.implicits._
    val tri = Seq((1L, 2L, 1L), (1L, 3L, 1L), (2L, 3L, 1L),
      (4L, 5L, 1L), (4L, 6L, 1L), (5L, 6L, 1L))
    val k8 = for { x <- 11L to 18L; y <- x + 1 to 18L } yield (x, y, 1L)
    val wp = (tri ++ Seq((3L, 4L, 9L)) ++ k8).toDF("x", "y", "w")
    def run(ml: Int) = Graphs.louvainMultiLevelWeighted(spark, wp,
        rounds = 2, maxLevels = ml)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      .groupBy(_._2).values.map(_.keys.toSet).toSet
    val g3 = run(3)
    // the heavy bridge pulls 3 and 4 together; convergence: deeper
    // maxLevels change nothing
    assert(g3.exists(g => g.contains(3L) && g.contains(4L)))
    assert(run(5) == g3)
  }

  test("linkPrediction == brute-force CN/RA oracle; adjacent pairs excluded") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    for (_ <- 1 to 3) {
      val n = 12
      val pairsSet = (for {
        x <- 0 until n; y <- x + 1 until n if rnd.nextInt(100) < 30
      } yield (x.toLong, y.toLong)).toSet
      val pairs = pairsSet.toSeq.toDF("x", "y")
      val got = Graphs.linkPrediction(spark, pairs, topK = 1000)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3)))).toMap
      val adj = pairsSet.flatMap { case (a, b) => Seq(a -> b, b -> a) }
        .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
      val want = (for {
        a <- 0L until n; b <- a + 1 until n
        if !pairsSet.contains((a, b))
        common = adj.getOrElse(a, Set.empty[Long])
          .intersect(adj.getOrElse(b, Set.empty[Long]))
        if common.nonEmpty
      } yield (a, b) -> (common.size.toLong,
        common.toSeq.map(z => 1000000000L / adj(z).size).sum)).toMap
      assert(got == want)
      // no predicted pair may already be an edge
      assert(got.keySet.intersect(pairsSet).isEmpty)
    }
  }

  test("multiSourceBfs: both frontier branches — plan shapes differ, results equal") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (2L, 5L), (10L, 11L))
    val edges = (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    val seeds = Seq(1L, 10L).toDF("id")
    def run(rows: Long) = Graphs.multiSourceBfs(spark, edges, seeds, 3, rows)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val expect = Map(
      (1L, 1L) -> 0, (1L, 2L) -> 1, (1L, 3L) -> 2, (1L, 5L) -> 2,
      (1L, 4L) -> 3, (10L, 10L) -> 0, (10L, 11L) -> 1)
    withoutAutoBroadcast {
      val bcastPlans = capturePlans {
        assert(run(Long.MaxValue) == expect)
      }
      assert(bcastPlans.exists(_.contains("BroadcastHashJoin")),
        "broadcast branch never planned a BroadcastHashJoin")
      val shufPlans = capturePlans {
        assert(run(0L) == expect)
      }
      assert(!shufPlans.exists(_.contains("BroadcastHashJoin")),
        "shuffle branch still broadcast a frontier")
      assert(shufPlans.exists(p =>
        p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")),
        "shuffle branch planned no shuffle join at all")
    }
  }

  test("restlessEarliestArrival: a LATER arrival catches what the earlier " +
      "strands; delta boundary inclusive; hop bound honored") {
    import spark.implicits._
    // (src, dst, dep, arr); delta = 100
    val edges = Seq(
      (1L, 2L, 150L, 200L),  // usable from (1,100): wait 50
      (1L, 2L, 400L, 450L),  // NOT usable: wait 300 > delta
      (2L, 3L, 210L, 300L),  // usable from (2,200)
      (2L, 6L, 300L, 310L),  // wait EXACTLY delta (100): inclusive
      (1L, 4L, 110L, 120L),  // early arrival at 4...
      (4L, 5L, 500L, 510L),  // ...strands (wait 380), BUT
      (3L, 4L, 310L, 420L)   // the later (4,420) label catches it (80)
    ).toDF("src", "dst", "dep_us", "arr_us")
    val seeds = Seq((1L, 100L)).toDF("id", "arr_us")
    def run(hops: Int) = Graphs.restlessEarliestArrival(spark, edges,
        seeds, deltaUs = 100L, maxHops = hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // node 5 needs the 4-edge walk 1→2→3→4→5 — a single-label
    // min-arrival fold (the G10 shape) would keep only (4,120) and
    // never reach it; the label-SET semantics must.
    assert(run(5) == Map(1L -> 100L, 2L -> 200L, 3L -> 300L,
      4L -> 120L, 5L -> 510L, 6L -> 310L))
    // maxHops 4 (≤ 3 expansions from the seed label) excludes node 5
    assert(run(4) == Map(1L -> 100L, 2L -> 200L, 3L -> 300L,
      4L -> 120L, 6L -> 310L))
  }

  test("restlessWalkCounts: parallel edges multiply counts, depths " +
      "accumulate, hop bound honored") {
    import spark.implicits._
    val edges = Seq(
      (1L, 2L, 150L, 200L),  // two parallel 1→2 edges land on the SAME
      (1L, 2L, 160L, 200L),  // (2,200) label: counts must sum, not dedup
      (1L, 2L, 400L, 450L),  // unusable from (1,100)
      (2L, 3L, 210L, 300L),
      (2L, 6L, 300L, 310L),
      (1L, 4L, 110L, 120L),
      (4L, 5L, 500L, 510L),  // only reachable via the later (4,420)
      (3L, 4L, 310L, 420L)
    ).toDF("src", "dst", "dep_us", "arr_us")
    val seeds = Seq((1L, 100L)).toDF("id", "arr_us")
    def run(hops: Int) = Graphs.restlessWalkCounts(spark, edges, seeds,
        deltaUs = 100L, maxHops = hops)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every walk from (1,100): 1 zero-edge walk at 1; ×2 to (2,200);
    // each continues to 3 and 6; 3 continues to (4,420) (+1 direct
    // 1→4), whose continuation reaches 5 — counts double through the
    // parallel-edge funnel.
    assert(run(5) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L,
      5L -> 2L, 6L -> 2L))
    assert(run(4) == Map(1L -> 1L, 2L -> 2L, 3L -> 2L, 4L -> 3L,
      6L -> 2L))
  }

  test("restlessVisitCounts == brute-force walk enumeration (hand + random)") {
    import spark.implicits._
    // local enumerator: all restless walks of <= maxHops edges from the
    // seed labels; count every position of every walk
    def brute(edges: Seq[(Long, Long, Long, Long)], seeds: Seq[(Long, Long)],
        delta: Long, maxHops: Int): Map[Long, Long] = {
      val visits = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      def expand(id: Long, arr: Long, depth: Int, path: List[Long]): Unit = {
        path.foreach(v => visits(v) += 1L)
        if (depth < maxHops)
          edges.foreach { case (s2, d2, dep, a2) =>
            if (s2 == id && dep >= arr && dep <= arr + delta)
              expand(d2, a2, depth + 1, path :+ d2)
          }
      }
      seeds.foreach { case (id, arr) => expand(id, arr, 1, List(id)) }
      visits.toMap
    }
    def run(edges: Seq[(Long, Long, Long, Long)], seeds: Seq[(Long, Long)],
        delta: Long, maxHops: Int): Map[Long, Long] =
      Graphs.restlessVisitCounts(spark,
          edges.toDF("src", "dst", "dep_us", "arr_us"),
          seeds.toDF("id", "arr_us"), delta, maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // the g45/g46 hand fixture (incl. parallel edges + stranding)
    val hand = Seq(
      (1L, 2L, 150L, 200L), (1L, 2L, 160L, 200L), (1L, 2L, 400L, 450L),
      (2L, 3L, 210L, 300L), (2L, 6L, 300L, 310L), (1L, 4L, 110L, 120L),
      (4L, 5L, 500L, 510L), (3L, 4L, 310L, 420L))
    val handSeeds = Seq((1L, 100L))
    Seq(1, 3, 5).foreach { h =>
      assert(run(hand, handSeeds, 100L, h) == brute(hand, handSeeds, 100L, h),
        s"hand fixture mismatch at maxHops=$h")
    }

    // randomized: small dense temporal multigraphs
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val edges = (1 to 60).map { _ =>
        val dep = rnd.nextInt(50).toLong
        (rnd.nextInt(6).toLong, rnd.nextInt(6).toLong, dep,
          dep + 1 + rnd.nextInt(10).toLong)
      }.filter(e => e._1 != e._2)
      val seeds = Seq((0L, 0L), (1L, 5L))
      val got = run(edges, seeds, 12L, 4)
      val want = brute(edges, seeds, 12L, 4)
      assert(got == want, s"random trial $trial mismatch")
    }
  }

  test("katzX64 on a DAG: vertices lacking length-2/3 walks survive " +
      "with zero counts (r16 review fix — inner joins dropped them)") {
    import spark.implicits._
    val dag = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val got = Graphs.katzX64(dag).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // vertex 2: one 1-walk, no longer walks -> 16; vertex 3: one 1-walk
    // + one 2-walk (1->2->3) -> 16 + 4 = 20; vertex 1 has no inbound
    // walk (Katz 0, omitted by the declared domain)
    assert(got == Map(2L -> ((1L, 0L, 0L, 16L)),
      3L -> ((1L, 1L, 0L, 20L))))
  }

  test("restlessTemporalBetweenness == brute shortest-foremost " +
      "enumeration (hand + random)") {
    import spark.implicits._
    // local reference: enumerate every restless walk as its label path,
    // derive per-id (min arrival, min depth at it), pick the 3 smallest
    // ids with depth >= 3, count strictly-interior positions of the
    // optimal walks
    def brute(edges: Seq[(Long, Long, Long, Long)],
        seeds: Seq[(Long, Long)], delta: Long, maxHops: Int,
        nTargets: Int): Map[(Long, Long), Long] = {
      var walks: Seq[List[(Long, Long)]] = seeds.map(s => List(s))
      val all = scala.collection.mutable.ArrayBuffer[List[(Long, Long)]]()
      all ++= walks
      for (_ <- 2 to maxHops) {
        walks = walks.flatMap { w =>
          val (v, a) = w.head
          edges.filter(e => e._1 == v && e._3 >= a && e._3 <= a + delta)
            .map(e => (e._2, e._4) :: w)
        }
        all ++= walks
      }
      val ends = all.toSeq.map(w => (w.head._1, w.head._2, w.length))
      val arrA = ends.groupBy(_._1).map { case (id, g) =>
        id -> g.map(_._2).min }
      val dM = ends.groupBy(_._1).map { case (id, g) =>
        id -> g.filter(_._2 == arrA(id)).map(_._3).min }
      val tgts = arrA.keys.toSeq.filter(id => dM(id) >= 3)
        .sorted.take(nTargets)
      val out = scala.collection.mutable.Map.empty[(Long, Long), Long]
        .withDefaultValue(0L)
      tgts.foreach { t =>
        all.filter(w => w.head._1 == t && w.head._2 == arrA(t) &&
            w.length == dM(t))
          .foreach { w =>
            val path = w.reverse.map(_._1)
            path.slice(1, path.length - 1).foreach(v => out((t, v)) += 1L)
          }
      }
      out.toMap
    }
    def run(edges: Seq[(Long, Long, Long, Long)], seeds: Seq[(Long, Long)],
        delta: Long, maxHops: Int): Map[(Long, Long), Long] =
      Graphs.restlessTemporalBetweenness(spark,
          edges.toDF("src", "dst", "dep_us", "arr_us"),
          seeds.toDF("id", "arr_us"), delta, maxHops, nTargets = 3)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

    // the g45/g46 hand fixture: at maxHops=5 the optimal walks to 5 run
    // 1→2→3→4→5 through BOTH parallel 1→2 edges (σ doubles through the
    // funnel); 3 and 6 are depth-3 targets
    val hand = Seq(
      (1L, 2L, 150L, 200L), (1L, 2L, 160L, 200L), (1L, 2L, 400L, 450L),
      (2L, 3L, 210L, 300L), (2L, 6L, 300L, 310L), (1L, 4L, 110L, 120L),
      (4L, 5L, 500L, 510L), (3L, 4L, 310L, 420L))
    val handSeeds = Seq((1L, 100L))
    Seq(3, 4, 5).foreach { h =>
      val want = brute(hand, handSeeds, 100L, h, 3)
      assert(run(hand, handSeeds, 100L, h) == want,
        s"hand mismatch at maxHops=$h")
    }
    // the maxHops=5 case is the interesting one — pin it explicitly
    assert(run(hand, handSeeds, 100L, 5) == Map(
      (3L, 2L) -> 2L, (5L, 2L) -> 2L, (5L, 3L) -> 2L, (5L, 4L) -> 2L,
      (6L, 2L) -> 2L))

    // randomized dense temporal multigraphs
    val rnd = new scala.util.Random(11)
    (1 to 3).foreach { trial =>
      val edges = (1 to 60).map { _ =>
        val dep = rnd.nextInt(50).toLong
        (rnd.nextInt(6).toLong, rnd.nextInt(6).toLong, dep,
          dep + 1 + rnd.nextInt(10).toLong)
      }.filter(e => e._1 != e._2)
      val seeds = Seq((0L, 0L), (1L, 5L))
      assert(run(edges, seeds, 12L, 4) == brute(edges, seeds, 12L, 4, 3),
        s"random trial $trial mismatch")
    }
  }

  // ---- graph TVF door (r15): the SQL surface must splice the SAME plan
  // the Scala API returns, so output equality is exact — including g08c's
  // floats (identical plan ⇒ bit-identical iteration), which is why the
  // pagerank twin can be gated here without a hash oracle.

  test("graph TVFs == Scala API on a crafted graph (components, coreness, " +
      "pagerank, bfs, louvain)") {
    import spark.implicits._
    graft.functions.TableFunctions.ensureRegistered(spark)
    // Two components: a K4 (1–4) + a 5-chain (10–14); directed arcs both
    // ways, as the copart convention feeds the ops.
    val k4 = for { a <- 1L to 4L; b <- 1L to 4L if a != b } yield (a, b)
    val chain = (10L to 13L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
    val edges = (k4 ++ chain).toDF("a", "b")
    edges.createOrReplaceTempView("tvf_edges")
    val pairs = edges.filter($"a" < $"b")
      .select($"a".as("u"), $"b".as("v"))
    pairs.createOrReplaceTempView("tvf_pairs")

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq

    assert(rows(spark.sql(
        "SELECT * FROM connected_components('tvf_edges', 'a', 'b') ORDER BY id"))
      == rows(Graphs.connectedComponentsDF(spark,
          edges.select($"a".as("src"), $"b".as("dst"))).orderBy("id")))
    assert(rows(spark.sql(
        "SELECT * FROM coreness('tvf_edges', 'a', 'b', 6) ORDER BY id"))
      == rows(Graphs.corenessHIndex(spark,
          edges.select($"a".as("src"), $"b".as("dst")), 6).orderBy("id")))
    assert(rows(spark.sql(
        "SELECT * FROM pagerank('tvf_edges', 'a', 'b', 5) ORDER BY id"))
      == rows(Graphs.pageRankDF(spark,
          edges.select($"a".as("src"), $"b".as("dst")), 5).orderBy("id")))
    assert(rows(spark.sql(
        "SELECT * FROM bfs_depths('tvf_edges', 'a', 'b', 10, 3) ORDER BY id"))
      == rows(Graphs.bfsDepthsDF(spark,
          edges.select($"a".as("src"), $"b".as("dst")), 10L, 3).orderBy("id")))
    assert(rows(spark.sql(
        "SELECT * FROM louvain('tvf_pairs', 'u', 'v', 2, 2) ORDER BY id"))
      == rows(Graphs.louvainMultiLevel(spark,
          pairs.select($"u".as("x"), $"v".as("y")), 2, 2).orderBy("id")))
  }

  test("graph TVFs accept TABLE() subquery arguments and reject bad input") {
    import spark.implicits._
    graft.functions.TableFunctions.ensureRegistered(spark)
    Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (7L, 8L), (8L, 7L))
      .toDF("s", "d").createOrReplaceTempView("tvf_sub_edges")
    // TABLE(subquery): components of the subgraph excluding vertex 7/8.
    val got = spark.sql(
      """SELECT * FROM connected_components(
        |  TABLE(SELECT s, d FROM tvf_sub_edges WHERE s < 7 AND d < 7),
        |  's', 'd') ORDER BY id""".stripMargin).collect().toSeq
    assert(got.map(r => (r.getLong(0), r.getLong(1)))
      == Seq((1L, 1L), (2L, 1L), (3L, 1L)))
    // Wrong arity and non-literal args fail at analysis with the
    // builder's message, not a downstream mismatch.
    val e1 = intercept[Exception](spark.sql(
      "SELECT * FROM pagerank('tvf_sub_edges', 's', 'd')").collect())
    assert(e1.getMessage.contains("4 arguments"))
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM coreness('tvf_sub_edges', 's', 'd', 0)").collect())
    assert(e2.getMessage.contains("rounds must be in"))
  }

  test("g08c pagerank SQL twin == g08 Scala sibling row-for-row (fixture)") {
    val a = SparkEntry.queries("g08c_pagerank_sql")(spark, sfDir)
      .collect().toSeq
    val b = SparkEntry.queries("g08_pagerank")(spark, sfDir)
      .collect().toSeq
    assert(a.nonEmpty && a == b)
  }

  // ---- r16 door completion: every remaining graph operator's SQL twin
  // must splice the SAME plan as its Scala sibling, so row-for-row
  // equality on the fixture is the gate (exact for the integer family,
  // bit-identical for the float family — identical plan).

  test("temporal-path TVF twins == Scala siblings row-for-row (g10d/e/f)") {
    Seq("g10d_temporal_path_sql" -> "g10_temporal_path",
        "g10e_latest_departure_sql" -> "g10b_latest_departure",
        "g10f_fastest_journey_sql" -> "g10c_fastest_journey",
        "g48b_betweenness_sql" -> "g48_temporal_betweenness")
      .foreach { case (twin, sibling) =>
        val a = SparkEntry.queries(twin)(spark, sfDir).collect().toSeq
        val b = SparkEntry.queries(sibling)(spark, sfDir).collect().toSeq
        assert(a.nonEmpty && a == b, s"$twin != $sibling")
      }
  }

  test("second-tier graph TVF twins == Scala siblings row-for-row " +
      "(triangles, k-core, k-truss, katz, hits, ppr)") {
    Seq("g07b_triangles_sql" -> "g07_triangles",
        "g14b_kcore_sql" -> "g14_kcore",
        "g22b_ktruss_sql" -> "g22_ktruss",
        "g32b_katz_sql" -> "g32_katz",
        "g18b_hits_sql" -> "g18_hits",
        "g08d_ppr_sql" -> "g08b_ppr",
        "g17b_bfs_profile_sql" -> "g17_bfs_profile",
        "g19b_closeness_sql" -> "g19_closeness",
        "g31b_harmonic_sql" -> "g31_harmonic",
        "g30b_jaccard_sql" -> "g30_jaccard_similarity",
        "g25b_link_prediction_sql" -> "g25_link_prediction")
      .foreach { case (twin, sibling) =>
        val a = SparkEntry.queries(twin)(spark, sfDir).collect().toSeq
        val b = SparkEntry.queries(sibling)(spark, sfDir).collect().toSeq
        assert(a.nonEmpty && a == b, s"$twin != $sibling")
      }
  }

  test("r18 graph TVF twins == Scala siblings row-for-row " +
      "(restless_min_depths/g49b, hash_walks/g16b, modularity/g26b — " +
      "g26b composes TWO doors: modularity over label_propagation)") {
    Seq("g49b_temporal_closeness_sql" -> "g49_temporal_closeness",
        "g16b_hash_walks_sql" -> "g16_hash_walks",
        "g26b_modularity_sql" -> "g26_modularity",
        "g29b_reciprocity_sql" -> "g29_reciprocity",
        "g33b_rich_club_sql" -> "g33_rich_club",
        "g34b_condensation_sql" -> "g34_condensation",
        "g35b_bowtie_sql" -> "g35_bowtie",
        "g36b_resilience_sql" -> "g36_resilience",
        "g37b_copurchase_sql" -> "g37_copurchase",
        // r19: the last two doors — g27b composes coproject +
        // triangles_per_vertex (TABLE() arg) + inline degree/wedge
        // arithmetic; g28b is the six-moment aggregate over coproject
        "g27b_clustering_sql" -> "g27_clustering_coeff",
        "g28b_assortativity_sql" -> "g28_assortativity")
      .foreach { case (twin, sibling) =>
        val a = SparkEntry.queries(twin)(spark, sfDir).collect().toSeq
        val b = SparkEntry.queries(sibling)(spark, sfDir).collect().toSeq
        assert(a.nonEmpty && a == b, s"$twin != $sibling")
      }
  }

  test("DESCRIBE FUNCTION renders the TVF contract: argument shapes, " +
      "column conventions, and the analysis-time cost note") {
    graft.functions.TableFunctions.ensureRegistered(spark)
    def usage(fn: String): String = spark.sql(s"DESCRIBE FUNCTION $fn")
      .collect().map(_.getString(0)).mkString("\n")
    val pr = usage("pagerank")
    assert(pr.contains("pagerank(table, src_col, dst_col, iters)"))
    assert(pr.contains("ANALYSIS time") && pr.contains("memoizes"))
    val ra = usage("restless_arrival")
    assert(ra.contains("(src, dst, dep_us, arr_us)") &&
      ra.contains("TABLE(SELECT ...)"))
    val aj = usage("asof_join")
    assert(aj.contains("backward|forward|nearest") &&
      !aj.contains("ANALYSIS time")) // lazy TVFs carry no cost note
  }

  test("iterative graph TVFs memoize the converged plan: EXPLAIN pays " +
      "once, re-analysis hits, replacing the view's data misses") {
    import spark.implicits._
    graft.functions.TableFunctions.ensureRegistered(spark)
    val tri1 = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L), (3L, 1L))
    tri1.toDF("a", "b").createOrReplaceTempView("tvf_memo_edges")
    val before = graft.functions.TableFunctions.memoizedPlanCount(spark)

    // EXPLAIN executes the fix point ONCE and caches the converged plan
    spark.sql(
      "EXPLAIN SELECT * FROM pagerank('tvf_memo_edges', 'a', 'b', 3)")
      .collect()
    val afterExplain =
      graft.functions.TableFunctions.memoizedPlanCount(spark)
    assert(afterExplain == before + 1)

    // the actual run re-analyzes the same invocation — cache hit, no new
    // entry, and the result matches the Scala API
    val r1 = spark.sql(
      "SELECT * FROM pagerank('tvf_memo_edges', 'a', 'b', 3) ORDER BY id")
      .collect().toSeq
    assert(graft.functions.TableFunctions.memoizedPlanCount(spark)
      == afterExplain)
    assert(r1 == Graphs.pageRankDF(spark,
      tri1.toDF("src", "dst"), 3).orderBy("id").collect().toSeq)

    // different literal args → a different fix point → new entry
    spark.sql("SELECT * FROM pagerank('tvf_memo_edges', 'a', 'b', 4)")
      .collect()
    assert(graft.functions.TableFunctions.memoizedPlanCount(spark)
      == afterExplain + 1)

    // REPLACING the view with different data is a cache MISS: the key is
    // the canonicalized resolved plan (sameResult equality), so the TVF
    // recomputes on the new data instead of serving a stale hit
    val chain = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (3L, 4L), (4L, 3L))
    chain.toDF("a", "b").createOrReplaceTempView("tvf_memo_edges")
    val r2 = spark.sql(
      "SELECT * FROM pagerank('tvf_memo_edges', 'a', 'b', 3) ORDER BY id")
      .collect().toSeq
    assert(graft.functions.TableFunctions.memoizedPlanCount(spark)
      == afterExplain + 2)
    assert(r2 == Graphs.pageRankDF(spark,
      chain.toDF("src", "dst"), 3).orderBy("id").collect().toSeq)
    assert(r2 != r1)
  }

  test("generic BOM/critical-path rollups: non-heap ids, null-parent " +
      "roots, exact semiring values; a cycle throws instead of " +
      "dropping nodes") {
    import spark.implicits._
    // forest with IRREGULAR ids (no heap-level trick available):
    // 10 -> {20, 30}, 20 -> {40}; roots carry NULL parents
    val nodes = Seq(
      (10L, Option.empty[Long], 2L, 5L),
      (20L, Option(10L), 3L, 2L),
      (30L, Option(10L), 2L, 7L),
      (40L, Option(20L), 4L, 1L))
      .toDF("id", "parent", "qty", "cost")
    val bom = Graphs.bomRollup(spark, nodes.select("id", "parent", "qty"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // units(20) = qty(40)*(1+0) = 4;
    // units(10) = qty(20)*(1+4) + qty(30)*(1+0) = 15 + 2 = 17
    assert(bom == Map(10L -> ((3L, 17L)), 20L -> ((1L, 4L)),
      30L -> ((0L, 0L)), 40L -> ((0L, 0L))))
    val crit = Graphs.criticalPathRollup(spark,
        nodes.select("id", "parent", "cost"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // crit(20) = 2+1 = 3; crit(10) = 5 + max(3, 7) = 12
    assert(crit == Map(10L -> 12L, 20L -> 3L, 30L -> 7L, 40L -> 1L))
    // a cycle has no roots to level from — loud failure, not a silent
    // partial result
    val cyc = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("id", "parent", "qty")
    intercept[IllegalStateException] {
      Graphs.bomRollup(spark, cyc)
    }
    // an EMPTY hierarchy (reachable from the TVFs via a filtered TABLE()
    // subquery) returns an empty frame — not an NPE from max-over-zero
    assert(Graphs.bomRollup(spark,
      nodes.select("id", "parent", "qty").limit(0)).count() == 0)
    assert(Graphs.criticalPathRollup(spark,
      nodes.select("id", "parent", "cost").limit(0)).count() == 0)
  }

  test("TVF memo: re-written files under an UNCHANGED path are a miss " +
      "(file-listing signature in the key) — the in-place overwrite " +
      "serves a fresh fix point, not the stale converged plan") {
    import spark.implicits._
    graft.functions.TableFunctions.ensureRegistered(spark)
    val dir = java.nio.file.Files.createTempDirectory("tvf_overwrite")
      .toFile.getAbsolutePath
    try {
      val tri = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
        (3L, 1L))
      tri.toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(dir)
      def run(): Seq[org.apache.spark.sql.Row] = {
        // a FRESH read per run — new listing, exactly what a session
        // does after REFRESH TABLE (a cached stale relation is Spark
        // relation-cache semantics, out of the memo's scope)
        spark.read.parquet(dir).createOrReplaceTempView("tvf_ow_edges")
        spark.sql(
          "SELECT * FROM pagerank('tvf_ow_edges', 'a', 'b', 3) ORDER BY id")
          .collect().toSeq
      }
      val before = graft.functions.TableFunctions.memoizedPlanCount(spark)
      val r1 = run()
      assert(graft.functions.TableFunctions.memoizedPlanCount(spark)
        == before + 1)
      // same files, fresh read → same signature → memo hit
      assert(run() == r1)
      assert(graft.functions.TableFunctions.memoizedPlanCount(spark)
        == before + 1)
      // OVERWRITE the files under the SAME path with different data:
      // the canonicalized plan can compare equal, but the file-listing
      // signature (names/sizes/mtimes) differs → miss → fresh fix point
      val chain = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
        (3L, 4L), (4L, 3L))
      chain.toDF("a", "b").coalesce(1).write.mode("overwrite").parquet(dir)
      val r2 = run()
      assert(graft.functions.TableFunctions.memoizedPlanCount(spark)
        == before + 2)
      assert(r2 == Graphs.pageRankDF(spark,
        chain.toDF("src", "dst"), 3).orderBy("id").collect().toSeq)
      assert(r2 != r1)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("g35 bowtie: an empty edge input yields the empty profile " +
      "(the TVF runs the giant-SCC pick at analysis time, so a " +
      "filtered-empty TABLE() subquery must not crash)") {
    import spark.implicits._
    val out = Graphs.bowtieProfile(spark,
      Seq.empty[(Long, Long)].toDF("src", "dst"),
      trimRounds = 2, rounds = 8, iters = 16)
    assert(out.columns.toSeq == Seq("cls", "n_vertices"))
    assert(out.collect().isEmpty)
  }
}
