package graft

import graft.ops.{AsOfJoin, Graphs, Similarity, Text}
import org.apache.spark.sql.functions._

/** Seeded randomized cross-implementation properties: every operator with
  * two independent implementations (library form vs custom operator vs
  * local reference fold) must agree on adversarial random inputs —
  * duplicate keys, ties, strided ids, disconnected graphs. Seeds are
  * fixed so failures reproduce.
  */
class RandomizedSpec extends SparkSpecBase {

  test("as-of: window form == merge operator == local reference (random, 20 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 20) {
      val nKeys = 1 + rnd.nextInt(4)
      val lefts = (1 to 40).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(30).toLong, i.toLong)
      } // (k, ts, lid)
      val rights = (1 to 40).map { i =>
        (rnd.nextInt(nKeys).toLong, rnd.nextInt(30).toLong, i.toLong,
          rnd.nextInt(100).toLong)
      } // (k, ts, tie, pay)
      val strict = rnd.nextBoolean()
      val l = lefts.toDF("k", "ts", "lid")
      val r = rights.toDF("k", "ts", "tie", "pay")

      // local reference: for each left row, the right row in the same key
      // group with max (ts, tie) subject to ts <= (or <) left ts
      val expect = lefts.map { case (k, ts, lid) =>
        val cand = rights.filter(rr => rr._1 == k &&
          (if (strict) rr._2 < ts else rr._2 <= ts))
        val pay = if (cand.isEmpty) None
          else Some(cand.maxBy(rr => (rr._2, rr._3))._4)
        (lid, pay)
      }.toMap

      val viaWindow = AsOfJoin(l, r, Seq("k"), "ts", "ts", Seq("pay"),
          "tie", strict).collect()
        .map(row => row.getLong(2) ->
          Option(row.get(row.length - 1)).map(_.asInstanceOf[Long])).toMap
      val viaMerge = AsOfJoin.merge(l, r, Seq("k"), "ts", "ts", Seq("pay"),
          "tie", strict).collect()
        .map(row => row.getLong(2) ->
          Option(row.get(row.length - 1)).map(_.asInstanceOf[Long])).toMap
      assert(viaWindow == expect, s"window form diverged (trial $trial, strict=$strict)")
      assert(viaMerge == expect, s"merge operator diverged (trial $trial, strict=$strict)")
    }
  }

  test("topKCosinePairs == allPairsCosine top-k on random vectors, strided ids") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(42L)
    // ids all multiples of 16: raw id % blocks would collapse to one block
    val vecs = (1 to 120).map { i =>
      (i * 16L, Array.fill(8)(rnd.nextFloat() * 2 - 1))
    }.toDF("vec_id", "embedding")
    val k = 15
    val exact = Similarity.allPairsCosine(vecs)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("c4"))
      .orderBy(desc("c4"), col("a_id"), col("b_id")).limit(k)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val blocked = Similarity.topKCosinePairs(vecs, k, blocks = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(blocked == exact)

    // The threshold kernel must agree with the quadratic reference on the
    // same strided-id corpus — filter on the RAW cosine, round after,
    // exactly the l03c contract shape.
    val thr = 0.15
    val exactThr = Similarity.allPairsCosine(vecs)
      .filter(col("cos_sim") > thr)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("c4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    val blockedThr = Similarity.thresholdCosinePairs(vecs, thr, blocks = 8)
      .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("c4"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(blockedThr == exactThr && blockedThr.nonEmpty)

    // block-count invariance: the block scheme is a parallelization
    // detail, never part of the semantics — 1 block (one quadratic task)
    // and 5 blocks (uneven split) must emit the identical pair set
    for (nb <- Seq(1, 5)) {
      val alt = Similarity.thresholdCosinePairs(vecs, thr, blocks = nb)
        .select(col("a_id"), col("b_id"), round(col("cos_sim"), 4).as("c4"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
      assert(alt == exactThr, s"blocks=$nb diverged")
    }

    // zero-norm vectors have no direction: the kernel must skip their
    // pairs (not crash, not emit NaN). NOTE Spark orders NaN GREATER
    // than every value, so a naive Column-form `cos_sim > t` would PASS
    // a NaN pair — allPairsCosine therefore excludes zero-norm rows up
    // front, and the two forms must agree on zero-vector input.
    val withZero = vecs.unionAll(
      Seq((9999L, Array.fill(8)(0f))).toDF("vec_id", "embedding"))
    val zeroPairs = Similarity.thresholdCosinePairs(withZero, thr, blocks = 4)
      .filter(col("a_id") === 9999L || col("b_id") === 9999L).count()
    assert(zeroPairs == 0L, "zero-norm vector leaked into the pair set")
    val zeroColumn = Similarity.allPairsCosine(withZero)
      .filter(col("cos_sim") > thr)
      .filter(col("a_id") === 9999L || col("b_id") === 9999L).count()
    assert(zeroColumn == 0L, "Column form leaked a NaN pair past > filter")
  }

  test("connectedComponentsDF == local union-find on random graphs (10 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 10) {
      val n = 60
      val edges = (1 to 70).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2)
      // local union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val expect = verts.map { v =>
        // component label = min vertex id in component
        val root = find(v.toInt)
        val mn = verts.filter(u => find(u.toInt) == root).min
        v -> mn
      }.toMap
      val got = Graphs.connectedComponentsDF(spark, edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("bfsDepthsDF == local BFS on random graphs (10 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11L)
    for (trial <- 1 to 10) {
      val n = 50
      val edges = (1 to 80).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter(e => e._1 != e._2).distinct
      val seed = edges(rnd.nextInt(edges.length))._1
      val maxDepth = 1 + rnd.nextInt(5)
      // local BFS over directed edges
      val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
      var dist = Map(seed -> 0)
      var frontier = Seq(seed)
      for (d <- 1 to maxDepth) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil))
          .distinct.filterNot(dist.contains)
        dist ++= frontier.map(_ -> d)
      }
      val got = Graphs.bfsDepthsDF(spark, edges.toDF("src", "dst"), seed, maxDepth)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(got == dist, s"trial $trial seed=$seed depth=$maxDepth")
    }
  }

  test("weightedDistancesDF (fix point) == local Dijkstra on random graphs (6 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31L)
    for (trial <- 1 to 6) {
      val n = 25
      val edges = (1 to 60).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong, 1L + rnd.nextInt(20))
      }.filter(e => e._1 != e._2).distinct
      val seed = edges(rnd.nextInt(edges.length))._1
      // local Dijkstra over directed weighted edges
      val adj = edges.groupBy(_._1)
        .map { case (s, es) => s -> es.map(e => (e._2, e._3)) }
      val dist = scala.collection.mutable.Map(seed -> 0L)
      val pq = scala.collection.mutable.PriorityQueue((0L, seed))(
        Ordering.by((t: (Long, Long)) => -t._1))
      while (pq.nonEmpty) {
        val (d, u) = pq.dequeue()
        if (d == dist(u)) adj.getOrElse(u, Nil).foreach { case (v, w) =>
          if (!dist.get(v).exists(_ <= d + w)) {
            dist(v) = d + w; pq.enqueue((d + w, v))
          }
        }
      }
      // default maxRounds = fix point; one trial also forces the
      // shuffle-join frontier branch (broadcastRows = 0)
      val bRows = if (trial == 1) 0L else Graphs.FrontierBroadcastRows
      val got = Graphs.weightedDistancesDF(spark,
          edges.toDF("src", "dst", "weight"), seed, broadcastRows = bRows)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == dist.toMap, s"trial $trial seed=$seed")
    }
  }

  test("packGreedy == local greedy fold on random corpora (10 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(3L)
    for (trial <- 1 to 10) {
      val docs = (0 until 80).map { i =>
        (i.toLong, Seq.fill(1 + rnd.nextInt(12))("w").mkString(" "))
      }
      val cap = 4L + rnd.nextInt(10)
      val buckets = 1 + rnd.nextInt(4)
      val local = docs.groupBy(d => d._1 % buckets).flatMap { case (b, ds) =>
        var pack = 0L; var fill = 0L; var first = true
        ds.sortBy(_._1).map { case (id, text) =>
          val tc = text.split(" ").length.toLong
          if (first) { fill = tc; first = false }
          else if (fill + tc > cap) { pack += 1; fill = tc }
          else fill += tc
          (id, b, pack)
        }
      }.toSet
      val got = Text.packGreedy(
          docs.toDF("doc_id", "text")
            .withColumn("n_chars", length(col("text"))),
          cap, buckets)
        .collect().map(r => (r.getLong(1), r.getLong(0), r.getLong(3))).toSet
      assert(got == local, s"trial $trial cap=$cap buckets=$buckets")
    }
  }

  test("resampleDaily == brute-force per-day reference (random, 15 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813L)
    val dayUs = 86400000000L
    for (trial <- 1 to 15) {
      val nUsers = 1 + rnd.nextInt(3)
      // random change points over a ~10-day span, with deliberate same-ts
      // ties (coarse second grid) so the tieBreak rule is exercised
      val rows = (1 to 30).map { i =>
        val us = (rnd.nextInt(10) * dayUs) + rnd.nextInt(5) * 1000000L
        (rnd.nextInt(nUsers).toLong,
          java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000)),
          i.toLong, rnd.nextInt(100).toDouble)
      }
      val df = rows.toDF("user_id", "ts", "event_id", "value")
      val got = graft.ops.Temporal
        .resampleDaily(df, "user_id", "ts", "value", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r.getDouble(2))
        .toMap
      // brute force: per user, for every day of [min, max] day span, the
      // value of the row with max (ts, event_id) at-or-before day end
      val expect = rows.groupBy(_._1).flatMap { case (u, rs) =>
        val us = rs.map(_._2.getTime * 1000L)
        val (d0, d1) = (us.min / dayUs, us.max / dayUs)
        (d0 to d1).map { d =>
          val end = (d + 1) * dayUs - 1
          val winner = rs.filter(_._2.getTime * 1000L <= end)
            .maxBy(r => (r._2.getTime * 1000L, r._3))
          (u, d * dayUs / 1000L) -> winner._4
        }
      }.toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("resampleInterpolatedDaily == brute-force interpolation (random, 15 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260814L)
    val dayUs = 86400000000L
    for (trial <- 1 to 15) {
      val nUsers = 1 + rnd.nextInt(3)
      val rows = (1 to 30).map { i =>
        val us = (rnd.nextInt(10) * dayUs) + rnd.nextInt(5) * 1000000L
        (rnd.nextInt(nUsers).toLong,
          java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000)),
          i.toLong, rnd.nextInt(10000).toDouble / 100.0)
      }
      val df = rows.toDF("user_id", "ts", "event_id", "value")
      val got = graft.ops.Temporal
        .resampleInterpolatedDaily(df, Seq("user_id"), "ts", "value", "event_id")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime) -> r.getLong(2))
        .toMap
      val expect = rows.groupBy(_._1).flatMap { case (u, rs) =>
        def usOf(t: java.sql.Timestamp) = t.getTime * 1000L
        val us = rs.map(r => usOf(r._2))
        val (d0, d1) = (us.min / dayUs, us.max / dayUs)
        (d0 to d1).map { d =>
          val g = d * dayUs
          // back: max (ts, id) at-or-before g; fwd: min (ts, id) at-or-after
          val back = rs.filter(r => usOf(r._2) <= g)
            .sortBy(r => (usOf(r._2), r._3)).lastOption
          val fwd = rs.filter(r => usOf(r._2) >= g)
            .sortBy(r => (usOf(r._2), r._3)).headOption
          def cents(v: Double) = graft.Det.centsJvm(v)
          val interp = (back, fwd) match {
            case (None, Some(f)) => cents(f._4)
            case (Some(b), None) => cents(b._4)
            case (Some(b), Some(f)) =>
              val (t0, t1) = (usOf(b._2), usOf(f._2))
              if (t1 <= t0) cents(b._4)
              else (cents(b._4) * (t1 - g) + cents(f._4) * (g - t0)) / (t1 - t0)
            case _ => sys.error("grid day with no observation either side")
          }
          (u, g / 1000L) -> interp
        }
      }.toMap
      assert(got == expect, s"trial $trial")
    }
  }

  test("weighted median == local cumulative-weight selection (random, 20 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 20) {
      // deliberate value ties across different weights so the suffix-min
      // collapse is exercised on tied sort keys
      val rows = (1 to 40).map { i =>
        (rnd.nextInt(3).toLong, rnd.nextInt(8).toLong * 100,
          1L + rnd.nextInt(5), i.toLong, i.toLong)
      } // (grp, v, w, ok, ln)
      val df = rows.toDF("rf", "v", "w", "ok", "ln")
      val w = org.apache.spark.sql.expressions.Window.partitionBy("rf")
        .orderBy(col("v").asc, col("ok").asc, col("ln").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val got = df.withColumn("cumw", sum("w").over(w))
        .withColumn("total", sum("w").over(
          org.apache.spark.sql.expressions.Window.partitionBy("rf")))
        .filter(col("cumw") * 2 >= col("total"))
        .groupBy("rf").agg(min("v").as("med"), min("total").as("tw"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val expect = rows.groupBy(_._1).map { case (g, rs) =>
        val sorted = rs.sortBy(r => (r._2, r._4, r._5))
        val total = rs.map(_._3).sum
        var cum = 0L
        val med = sorted.find { r => cum += r._3; cum * 2 >= total }.get._2
        g -> (med, total)
      }
      assert(got == expect, s"trial $trial")
    }
  }

  test("media codecs never throw on fuzzed bytes (500 mutations each)") {
    // the 100 TB-scrape contract: garbage decodes to None, never an
    // exception — fuzz with random bytes AND bit-flipped valid containers
    val rnd = new scala.util.Random(20260814L)
    val validPpm = "P6\n4 3\n255\n".getBytes("UTF-8") ++
      Array.fill[Byte](36)(7)
    val samples = Array.tabulate[Short](40)(i => (i * 13 % 97).toShort)
    val bb = java.nio.ByteBuffer.allocate(44 + 80)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes); bb.putInt(36 + 80); bb.put("WAVE".getBytes)
    bb.put("fmt ".getBytes); bb.putInt(16); bb.putShort(1); bb.putShort(1)
    bb.putInt(8000); bb.putInt(16000); bb.putShort(2); bb.putShort(16)
    bb.put("data".getBytes); bb.putInt(80)
    samples.foreach(s => bb.putShort(s))
    val validWav = bb.array()
    assert(graft.ops.Media.decodePpm(validPpm).isDefined)
    assert(graft.ops.Media.decodeWav(validWav).isDefined)
    for (_ <- 1 to 500) {
      // pure noise of random length
      val noise = Array.fill[Byte](rnd.nextInt(200))(rnd.nextInt().toByte)
      graft.ops.Media.decodePpm(noise); graft.ops.Media.decodeWav(noise)
      // corrupted valid container: flip 1-8 random bytes and/or truncate
      def mutate(base: Array[Byte]): Array[Byte] = {
        val cut = base.take(1 + rnd.nextInt(base.length))
        val out = cut.clone()
        (1 to 1 + rnd.nextInt(8)).foreach { _ =>
          if (out.nonEmpty)
            out(rnd.nextInt(out.length)) = rnd.nextInt().toByte
        }
        out
      }
      graft.ops.Media.decodePpm(mutate(validPpm))
      graft.ops.Media.decodeWav(mutate(validWav))
    }
  }

  test("temporal-path triple == local journey enumeration on random graphs (8 trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(131)
    for (trial <- 1 to 8) {
      val n = 9
      // random temporal multigraph: parallel edges with distinct
      // (avail, arrive) windows are exactly where the Pareto frontier
      // and deadline pruning semantics bite
      val edges = (1 to 28).map { _ =>
        val u = rnd.nextInt(n).toLong; val v = rnd.nextInt(n).toLong
        val avail = rnd.nextInt(50).toLong
        (u, v, avail, avail + 1 + rnd.nextInt(10).toLong)
      }.filter(e => e._1 != e._2)
      val maxHops = 5

      // local oracle: enumerate ALL journeys of <= maxHops hops by
      // depth-first expansion over (vertex, arrival) states
      case class J(start: Long, arrive: Long)
      def journeysFrom(seed: Long): Map[Long, Seq[J]] = {
        val out = scala.collection.mutable.Map.empty[Long, Vector[J]]
        def go(v: Long, start: Long, arr: Long, hops: Int): Unit = {
          if (hops > 0)
            edges.filter(e => e._1 == v && arr <= e._3).foreach { e =>
              out(e._2) = out.getOrElse(e._2, Vector()) :+ J(start, e._4)
              go(e._2, start, e._4, hops - 1)
            }
        }
        edges.filter(_._1 == seed).foreach { e =>
          out(e._2) = out.getOrElse(e._2, Vector()) :+ J(e._3, e._4)
          go(e._2, e._3, e._4, maxHops - 1)
        }
        out.toMap
      }

      val df = edges.toDF("src", "dst", "avail_us", "arrive_us")
      val seed = edges.map(_._1).min
      val js = journeysFrom(seed)

      // fastest journey: min (arrive - start) over all journeys
      val wantFast = js.view.mapValues(_.map(j => j.arrive - j.start).min)
        .toMap.removed(seed)
      val gotFast = Graphs.fastestJourney(spark, df, seed, maxHops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        .removed(seed)
      assert(gotFast == wantFast, s"trial $trial fastest: $gotFast vs $wantFast")

      // earliest arrival from the seed present at seedTs: min arrival
      // over journeys whose first edge leaves at or after seedTs; the
      // seed keeps seedTs (every edge here arrives after it leaves)
      val seedTs = 3L * trial
      val wantEa = (js.toSeq.flatMap { case (v, j) =>
          j.filter(_.start >= seedTs).map(x => v -> x.arrive) } :+
        (seed -> seedTs)).groupMapReduce(_._1)(_._2)(math.min)
      def arrivals(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val gotEa = arrivals(Graphs.earliestArrival(spark, df, seed, seedTs,
        maxHops))
      assert(gotEa == wantEa, s"trial $trial earliest: $gotEa vs $wantEa")
      assert(arrivals(GraphXOracles.earliestArrival(spark, df, seed, seedTs,
        maxHops)) == wantEa, s"trial $trial earliest (GraphX)")

      // latest departure to a random reachable target: max start over
      // journeys arriving by the deadline — plus intermediate vertices'
      // own latest feasible departure, checked by re-enumeration per v
      if (js.nonEmpty) {
        val target = js.keys.toSeq.sorted.apply(rnd.nextInt(js.size))
        val deadline = js(target).map(_.arrive).max
        def latestTo(v: Long): Option[Long] = {
          // journeys v ->* target arriving <= deadline; departure = the
          // avail of the journey's FIRST edge; within maxHops hops
          def go(x: Long, arr: Long, hops: Int): Boolean =
            (x == target && arr <= deadline) || (hops > 0 &&
              edges.exists(e => e._1 == x && arr <= e._3 &&
                e._4 <= deadline && go(e._2, e._4, hops - 1)))
          val starts = edges.filter(e => e._1 == v && e._4 <= deadline)
            .filter(e => go(e._2, e._4, maxHops - 1))
            .map(_._3)
          if (starts.isEmpty) None else Some(starts.max)
        }
        val want = (0L until n).flatMap(v =>
            if (v == target) Some(v -> deadline)
            else latestTo(v).map(v -> _)).toMap
        val got = Graphs.latestDeparture(spark, df, target, deadline,
            maxHops)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want, s"trial $trial latest: $got vs $want")
        assert(GraphXOracles.latestDeparture(spark, df, target, deadline,
            maxHops).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          == want, s"trial $trial latest (GraphX)")
      }
    }
  }
}
