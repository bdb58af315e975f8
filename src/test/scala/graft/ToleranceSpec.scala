package graft

import org.apache.spark.sql.functions._

/** Tolerance gates for the queries excluded from hash-matching
  * (SURVEY.md §2.0 rule 5): approximate distinct, PageRank, LSH recall,
  * language-ID accuracy, SimHash locality.
  */
class ToleranceSpec extends SparkSpecBase {

  test("q16 approx_count_distinct within 5% of exact per event_type") {
    val approx = SparkEntry.queries("q16_approx_distinct")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = SparkEntry.queries("q15_distinct_agg")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (et, n) =>
      val a = approx(et)
      assert(math.abs(a - n).toDouble / n < 0.05,
        s"$et: approx=$a exact=$n")
    }
  }

  test("q16b HLL union of daily sketches == one-shot sketch, within 5% of exact") {
    import org.apache.spark.sql.functions._
    val merged = SparkEntry.queries("q16b_hll_union")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // merge transparency: unioning the per-day partials must give the
    // exact same estimate as sketching the whole stream in one pass
    val oneShot = graft.Tables.load(spark, sfDir, "events")
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12))
        .as("approx_users"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == oneShot)
    val exact = SparkEntry.queries("q15_distinct_agg")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (et, n) =>
      val a = merged(et)
      assert(math.abs(a - n).toDouble / n < 0.05, s"$et: approx=$a exact=$n")
    }
  }

  test("q16c HLL union/intersect within 5% of exact set sizes") {
    import org.apache.spark.sql.functions._
    val r = SparkEntry.queries("q16c_hll_intersect")(spark, sfDir).head()
    val e = graft.Tables.load(spark, sfDir, "events")
    def users(tp: String) = e.filter(col("event_type") === tp)
      .select("user_id").distinct().collect().map(_.getLong(0)).toSet
    val v = users("view"); val p = users("purchase")
    val want = Seq(v.size, p.size, v.union(p).size, v.intersect(p).size)
    want.zipWithIndex.foreach { case (exact, i) =>
      assert(math.abs(r.getLong(i) - exact).toDouble <=
        math.max(1.0, 0.05 * exact), s"col $i: got ${r.getLong(i)} want $exact")
    }
  }

  test("t38 percentile index: bucket contains the exact rank statistic (error <= width)") {
    // The mergeable-histogram percentile is bounded-error by
    // construction: the rank-ceil(p*n/100) order statistic of the SAME
    // row set must lie inside the returned [lo_cents, hi_cents) bucket.
    val got = SparkEntry.queries("t38_percentile_index")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got.nonEmpty && got.keySet.map(_._2) == Set(50, 90, 99))
    val rows = graft.Tables.load(spark, sfDir, "events")
      .filter(date_trunc("day", col("ts")).between(
        lit("2024-01-08").cast("timestamp"),
        lit("2024-01-21").cast("timestamp")))
      .select(col("event_type"), graft.Det.cents(col("value")).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    got.foreach { case ((et, p), (bucket, lo, hi)) =>
      val vs = rows(et)
      val r = (vs.length * p + 99) / 100 // ceil, matches the operator
      val exact = vs(r - 1)
      assert(lo <= exact && exact < hi,
        s"$et p$p: exact=$exact outside bucket $bucket [$lo,$hi)")
      assert(hi - lo == 2000L)
    }
  }

  test("l48 semantic dedup: integer close-decision == float cosine threshold; one keeper per close set") {
    val got = SparkEntry.queries("l48_semantic_dedup")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getAs[Number](1).longValue,
        r.getBoolean(2), r.getBoolean(3)))).toMap
    // float-side recomputation of cosine-to-label-centroid on the RAW
    // (unquantized) embeddings: the integer decision must agree with
    // cos > 0.3 everywhere except inside the quantization band
    val raw = graft.Tables.load(spark, sfDir, "embeddings").collect()
      .map(r => (r.getAs[Number]("vec_id").longValue,
        r.getAs[Number]("label").longValue,
        r.getSeq[Float](r.fieldIndex("embedding"))
          .map(_.toDouble).toArray))
    val byLabel = raw.groupBy(_._2)
    var checked = 0
    byLabel.foreach { case (_, members) =>
      val dims = members.head._3.length
      val cent = Array.tabulate(dims)(d => members.map(_._3(d)).sum)
      val nc = math.sqrt(cent.map(c => c * c).sum)
      members.foreach { case (id, _, v) =>
        val cos = v.zip(cent).map { case (a, b) => a * b }.sum /
          (math.sqrt(v.map(x => x * x).sum) * nc)
        val close = got(id)._2
        // quantization to 1e-3 units perturbs cosine by well under 1e-2
        // on 64-dim unit-scale vectors; outside that band the integer
        // and float decisions must coincide
        if (math.abs(cos - 0.3) > 0.01) {
          assert(close == (cos > 0.3), s"vec $id cos=$cos close=$close")
          checked += 1
        }
      }
    }
    assert(checked > raw.length * 9 / 10)
    // keep-list shape: per label exactly one close member keeps (the
    // min id), every non-close member keeps
    got.values.groupBy(_._1).foreach { case (_, ms) =>
      val close = ms.filter(_._2)
      if (close.nonEmpty) assert(close.count(_._3) == 1)
      assert(ms.filter(!_._2).forall(_._3))
    }
    assert(got.values.exists(v => v._2 && !v._3)) // some drops happen
  }

  test("l48 decision layer at adversarial magnitudes: exact vs BigInt reference beyond double precision") {
    import spark.implicits._
    import graft.ops.Similarity
    // Magnitudes pushed to the envelope's edge: scale=1e6 quantizes
    // coord 400 to xi=4e8; a 3-member aligned cluster gives cn=1.2e9
    // per dim, so dot = 9.6e17 and 100·dot² = 9.2e37 — one digit under
    // decimal(38,0)'s cap, and every product far beyond double's 2^53
    // (a float pipeline would round; BigInt is the truth). NOTE the
    // r11 "xi·cn wraps int64" scenario is IMPOSSIBLE inside the valid
    // envelope: whenever 100·dot² and 9·nx·nc both fit in 38 digits,
    // Cauchy–Schwarz bounds every xi·cn term and partial sum by
    // √(nx·nc) ≤ √(1.1e37) < 3.4e18 < 2^63 — the decimal widening is
    // safety margin for out-of-envelope callers, not in-envelope
    // correctness (see semanticDedupKeep's headroom scaladoc).
    val vecsIn = Seq(
      (1L, Array(400f, 400f), 7L),
      (2L, Array(400f, 400f), 7L),
      (3L, Array(400f, 400f), 7L),
      (4L, Array(0f, -400f), 7L), // points away: dot < 0
      (5L, Array(-400f, -400f), 7L) // anti-aligned: dot < 0
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.semanticDedupKeep(vecsIn, scale = 1000000L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getBoolean(3))))
      .toMap
    // BigInt reference of the exact comparison (tau = 3/10)
    val xi = Map(1L -> Seq(BigInt(400000000L), BigInt(400000000L)),
      2L -> Seq(BigInt(400000000L), BigInt(400000000L)),
      3L -> Seq(BigInt(400000000L), BigInt(400000000L)),
      4L -> Seq(BigInt(0L), BigInt(-400000000L)),
      5L -> Seq(BigInt(-400000000L), BigInt(-400000000L)))
    val cn = Seq(0, 1).map(d => xi.values.map(_(d)).sum)
    val nc = cn.map(c => c * c).sum
    val close = xi.map { case (id, v) =>
      val dot = v.zip(cn).map { case (a, b) => a * b }.sum
      val nx = v.map(a => a * a).sum
      id -> (dot > 0 && dot * dot * 100 > nx * nc * 9)
    }
    val keepId = close.collect { case (id, true) => id }.min
    val expect = close.map { case (id, c) =>
      id -> ((c, !c || id == keepId))
    }
    // magnitude sanity: the decision runs beyond double-exact range,
    // inside the decimal envelope, and both sides of the cluster exist
    val dot1 = xi(1L).zip(cn).map { case (a, b) => a * b }.sum
    assert(dot1 > BigInt(2).pow(53) &&
      dot1 * dot1 * 100 < BigInt(10).pow(38))
    assert(close.values.exists(identity) && close.values.exists(!_))
    assert(got == expect)
  }

  test("l48b kmeansExactAssign: planted blobs recovered, deterministic, empty clusters tolerated") {
    import spark.implicits._
    import graft.ops.Similarity
    val rnd = new scala.util.Random(7)
    // three planted blobs at (10,0,0,0)/(0,10,0,0)/(0,0,10,0), jitter
    // ±0.3; ids interleaved (id % 3 picks the blob) so the k min-id
    // seeds land one per blob and two Lloyd iterations converge
    val centers = Seq(Array(10f, 0f, 0f, 0f), Array(0f, 10f, 0f, 0f),
      Array(0f, 0f, 10f, 0f))
    val data = (1L to 30L).map { id =>
      val c = centers(((id - 1) % 3).toInt)
      (id, c.map(v => v + (rnd.nextFloat() - 0.5f) * 0.6f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.kmeansExactAssign(data, k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 30)
    // exact blob recovery: members of one blob share a label, blobs
    // have distinct labels
    val byBlob = got.groupBy { case (id, _) => (id - 1) % 3 }
      .map { case (b, m) => b -> m.values.toSet }
    assert(byBlob.values.forall(_.size == 1) &&
      byBlob.values.flatten.toSet.size == 3)
    // deterministic: a second run is bit-identical
    val again = Similarity.kmeansExactAssign(data, k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == got)
    // k beyond the planted structure: assignments stay total and
    // deterministic even as surplus clusters empty out
    val wide = Similarity.kmeansExactAssign(data, k = 5, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide.size == 30 && wide.values.toSet.size >= 3)
  }

  test("q27b stratified sample: per-stratum rates, exact 1.0 stratum, seeded") {
    val fractions = Map("click" -> 0.2, "view" -> 0.1, "purchase" -> 0.05,
      "error" -> 0.5, "signup" -> 1.0)
    val full = graft.Tables.load(spark, sfDir, "events")
      .groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def run() = SparkEntry.queries("q27b_stratified_sample")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = run()
    fractions.foreach { case (et, f) =>
      val n = full(et)
      val exp = f * n
      if (f == 1.0) assert(got(et) == n, s"$et: 1.0 stratum must be exact")
      else {
        // Bernoulli per-row sampling: allow 4 sigma + slack around n*f
        val tol = 4 * math.sqrt(exp * (1 - f)) + 3
        assert(math.abs(got(et) - exp) <= tol,
          s"$et: got ${got(et)}, expected ~$exp ± $tol")
      }
    }
    assert(run() == got, "same seed must reproduce the same sample")
  }

  test("q29b approx_top_k under capacity: dominant item survives eviction") {
    import spark.implicits._
    // 10k copies of one token + 200 distinct singletons, sketch capacity
    // far below the domain: the frequent-items sketch must still surface
    // the dominant item, with its estimate within the additive error
    // bound (~N/capacity) of the true count. (The no-eviction regime is
    // hash-gated by q29b itself.)
    val tokens = Seq.fill(10000)("x") ++ (1 to 200).map(i => s"t$i")
    val top = tokens.toDF("token")
      .agg(expr("approx_top_k(token, 1, 8)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item"), col("e.count")).head()
    assert(top.getString(0) == "x", s"dominant item lost: $top")
    val est = top.getLong(1)
    assert(math.abs(est - 10000L) <= 2000L, s"estimate off: $est")
  }

  test("g08 pagerank: ranks positive, mass ≈ vertex count") {
    val edges = graft.ops.Graphs.supplyEdges(spark, sfDir).select("src", "dst")
    val full = GraphXOracles.pageRank(spark, edges, 10)
    val nVerts = edges.select(col("src").as("id"))
      .unionAll(edges.select(col("dst").as("id"))).distinct().count()
    val stats = full.agg(sum("rank"), min("rank"), count(lit(1))).head()
    val mass = stats.getDouble(0)
    assert(stats.getDouble(1) > 0.0)
    assert(stats.getLong(2) == nVerts)
    // static PageRank conserves (1-d)·n + d·(teleport redistribution);
    // dangling-node leakage keeps mass in (0.3n, 1.05n] in practice.
    assert(mass > 0.3 * nVerts && mass < 1.05 * nVerts,
      s"mass=$mass nVerts=$nVerts")
  }

  test("g08 pagerank: GraphX == DataFrame power-iteration twin within 1e-6") {
    // pageRankDF replicates staticPageRank(10)'s recurrence exactly; only
    // float summation order differs between the GraphX aggregateMessages
    // tree and the SQL agg, so agreement within 1e-6 after 10 iterations
    // is a real gate.
    val edges = graft.ops.Graphs.supplyEdges(spark, sfDir)
      .select("src", "dst").localCheckpoint()
    val twin = graft.ops.Graphs.pageRankDF(spark, edges, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gx = GraphXOracles.pageRank(spark, edges, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gx.keySet == twin.keySet)
    // top-20 rank ORDER must agree exactly, values within 1e-6
    val topGx = gx.toSeq.sortBy { case (id, r) => (-r, id) }.take(20)
    val topTwin = twin.toSeq.sortBy { case (id, r) => (-r, id) }.take(20)
    assert(topGx.map(_._1) == topTwin.map(_._1),
      s"top-20 order diverged: ${topGx.map(_._1)} vs ${topTwin.map(_._1)}")
    gx.foreach { case (id, r) =>
      assert(math.abs(r - twin(id)) < 1e-6, s"id=$id gx=$r twin=${twin(id)}")
    }
  }

  test("g08b personalized pagerank: GraphX == DataFrame twin, L1-normalized") {
    val edges = graft.ops.Graphs.supplyEdges(spark, sfDir)
      .select("src", "dst").localCheckpoint()
    val seed = graft.ops.Graphs.CUST + 1L
    val twin = graft.ops.Graphs.personalizedPageRankDF(spark, edges, seed, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val gx = GraphXOracles.personalizedPageRank(spark, edges, seed, 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gx.keySet == twin.keySet)
    assert(math.abs(twin.values.sum - 1.0) < 1e-9)
    assert(twin(seed) > 0.0)
    val topGx = gx.toSeq.sortBy { case (id, r) => (-r, id) }.take(20)
    val topTwin = twin.toSeq.sortBy { case (id, r) => (-r, id) }.take(20)
    assert(topGx.map(_._1) == topTwin.map(_._1),
      s"top-20 order diverged: ${topGx.map(_._1)} vs ${topTwin.map(_._1)}")
    gx.foreach { case (id, r) =>
      assert(math.abs(r - twin(id)) < 1e-6, s"id=$id gx=$r twin=${twin(id)}")
    }
  }

  test("l32 matryoshka slice: full-width slice is the identity kernel") {
    // The 16-dim prefix query is hash-oracled; what the suite pins here
    // is that the slice path itself is lossless — a 64-of-64 "prefix"
    // must reproduce the full top-k bit-for-bit. (No recall gate for
    // the 16-dim prefix: the fixture embeddings are random, so prefix
    // and full cosine are uncorrelated by construction — trained
    // matryoshka embeddings are what make truncation meaningful.)
    val v = Tables.load(spark, sfDir, "embeddings")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.ops.Similarity.topKCosinePairs(df, 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val full = run(v)
    val sliced = run(v.select(col("vec_id"),
      slice(col("embedding"), 1, 64).as("embedding"), col("label")))
    assert(full == sliced && full.size == 10)
  }

  test("l02b LSH near-dedup recall >= 95% of exact pairs, zero false accepts") {
    val exact = SparkEntry.queries("l02_near_dedup")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = SparkEntry.queries("l02b_lsh_near_dedup")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // the exact re-check pass makes every reported pair a true positive
    assert(lsh.subsetOf(exact), s"false accepts: ${lsh.diff(exact).take(5)}")
    if (exact.nonEmpty) {
      val recall = lsh.size.toDouble / exact.size
      assert(recall >= 0.95, s"recall=$recall (${lsh.size}/${exact.size})")
    }
  }

  test("exactJaccardCompact: broadcast, shuffled, and adaptive paths agree") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    import spark.implicits._
    val sh = graft.ops.Text.shingles(
      Tables.load(spark, sfDir, "documents").limit(200), 3)
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 9L), (10L, 40L), (7L, 100L))
      .toDF("a_id", "b_id")
    def run(bc: Option[Boolean]) = graft.ops.Similarity
      .exactJaccardCompact(sh, pairs, broadcastSets = bc)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bcast = run(Some(true))
    assert(bcast == run(Some(false)) && bcast == run(None) && bcast.nonEmpty)
  }

  test("q28b approx percentiles are rank-correct within the sketch contract") {
    // approx_percentile returns an actual element with rank error <= n/a;
    // comparing VALUES against the interpolated exact percentile is the
    // wrong gate (in a small tail the two adjacent order stats can be far
    // apart) — the sketch's contract is about rank. The window is
    // max(1, ceil(n/accuracy)) per group, so the gate stays valid when a
    // group outgrows the accuracy parameter at larger scale factors.
    import spark.implicits._
    val byType = Tables.load(spark, sfDir, "events")
      .select(col("event_type"), graft.Det.cents(col("value")).as("c"))
      .as[(String, Long)].collect().groupBy(_._1)
      .map { case (k, vs) => k -> vs.map(_._2).sorted }
    val approx = SparkEntry.queries("q28b_approx_percentiles")(spark, sfDir)
      .collect()
      .map(r => r.getString(0) -> Seq(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(approx.keySet == byType.keySet && approx.nonEmpty)
    approx.foreach { case (k, ap) =>
      val sorted = byType(k)
      val slack = math.max(1, math.ceil(sorted.length / 10000.0).toInt)
      Seq(0.5, 0.9, 0.99).zip(ap).foreach { case (p, a) =>
        val target = (sorted.length - 1) * p
        val lo = math.max(0, math.floor(target).toInt - slack)
        val hi = math.min(sorted.length - 1, math.ceil(target).toInt + slack)
        assert((lo to hi).exists(i => sorted(i) == a),
          s"$k p$p: approx=$a not within rank ±$slack of target $target " +
            s"(window ${sorted.slice(lo, hi + 1).toSeq})")
      }
    }
  }

  test("l04c language-ID heuristic classifies real multilingual text") {
    // The fixture corpus has RANDOM lang labels over an English-ish shared
    // vocabulary (verified by inspection), so corpus accuracy is
    // untestable; the heuristic is gated on genuine samples instead.
    import spark.implicits._
    val samples = Seq(
      ("en", "the quick brown fox is running in the woods and that is fine with everyone"),
      ("de", "der hund und die katze sind nicht mit einem vogel im garten"),
      ("es", "el perro y la casa es una historia que los vecinos cuentan"),
      ("fr", "le chien est dans une maison et que les voisins dans la rue"),
      ("zh", "这是一个非常长的中文句子用来测试语言识别的功能是否正常"))
    val got = samples.toDF("expected", "text")
      .withColumn("guess", graft.ops.Text.langIdGuess(col("text")))
      .collect().map(r => r.getString(0) -> r.getString(2))
    got.foreach { case (exp, guess) => assert(exp == guess, s"$exp -> $guess") }
    // and the corpus query itself still runs end-to-end
    assert(SparkEntry.queries("l04c_langid")(spark, sfDir).count() == 5)
  }

  test("l07 simhash native expression == pure-Column reference") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    val sample = Tables.load(spark, sfDir, "documents").limit(50)
    val both = sample.select(
      graft.ops.Similarity.simHash(col("text")).as("fast"),
      graft.ops.Similarity.simHashHof(col("text")).as("ref"))
      .collect()
    both.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("simhash64 edge inputs match the pure-Column reference") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    import spark.implicits._
    // null token votes -1 everywhere; null/empty arrays yield 0L — both
    // exactly like the HOF twin's null-folding
    val df = Seq(Tuple1(Seq[String]("a", "b")), Tuple1(Seq[String]()))
      .toDF("toks")
      .select(call_function("simhash64", col("toks")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(1) == 0L && hs(0) != 0L)
    val withNull = spark.sql(
      "SELECT simhash64(array('a', CAST(NULL AS STRING))), simhash64(array('a'))")
    val r = withNull.collect()(0)
    assert(!r.isNullAt(0)) // no NPE; null token just votes -1
  }

  test("l07 simhash: near-dup pairs are closer in Hamming distance than random pairs") {
    val sim = SparkEntry.queries("l07_simhash")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nearPairs = SparkEntry.queries("l02_near_dedup")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
    if (nearPairs.nonEmpty) {
      val nearAvg = nearPairs.map { case (a, b) => ham(sim(a), sim(b)) }.sum
        .toDouble / nearPairs.length
      val ids = sim.keys.toArray.sorted
      val rnd = new scala.util.Random(3)
      val randAvg = (1 to 200).map { _ =>
        ham(sim(ids(rnd.nextInt(ids.length))), sim(ids(rnd.nextInt(ids.length))))
      }.sum / 200.0
      assert(nearAvg < randAvg,
        s"near-dup avg hamming $nearAvg !< random $randAvg")
    }
  }

  test("l03b IVF ANN: recall curve at nprobe = 1/2/4 — measured, monotone, gated") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
    val exact = SparkEntry.queries("l03_cosine_topk")(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nprobe: Int): Double = {
      val ivf = graft.ops.Similarity
        .ivfTopKPairs(vecs, k = 20, nCentroids = 8, nprobe = nprobe)
        .select("a_id", "b_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      ivf.intersect(exact).size.toDouble / exact.size
    }
    // The recall/cost tradeoff, tabulated: candidate volume grows
    // ~linearly in nprobe; recall must grow with it (probing a superset
    // of buckets can only add candidate pairs) and the wired contract
    // point (nprobe = 2, l03b) must clear its gate.
    val curve = Seq(1, 2, 4).map(np => np -> recallAt(np))
    info(curve.map { case (np, r) => f"nprobe=$np recall=$r%.2f" }
      .mkString(", "))
    val byNp = curve.toMap
    assert(byNp(1) >= 0.3, s"nprobe=1 recall ${byNp(1)} — coarse floor")
    assert(byNp(2) >= 0.5, s"nprobe=2 recall ${byNp(2)} — the l03b gate")
    assert(byNp(4) >= 0.7, s"nprobe=4 recall ${byNp(4)}")
    assert(byNp(1) <= byNp(2) + 1e-9 && byNp(2) <= byNp(4) + 1e-9,
      s"recall not monotone in nprobe: $curve")
  }

  test("l03d IVF threshold near-dup: precision 1.0 by construction, recall measured") {
    // The approximate threshold pairs must be a strict SUBSET of the
    // exact kernel's output (every candidate passes the same exact
    // cosine filter — precision 1.0), with recall limited only by
    // bucket-boundary misses, measured against the exact l03c set.
    def pairSet(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("l03c_cosine_neardup")
    val ivf = pairSet("l03d_ivf_neardup")
    assert(exact.nonEmpty && ivf.nonEmpty)
    assert(ivf.subsetOf(exact),
      s"false positives: ${ivf.diff(exact).take(3)} — the exact re-check leaked")
    val recall = ivf.size.toDouble / exact.size
    info(f"l03d recall vs exact threshold pairs = $recall%.2f (nprobe=2/8)")
    assert(recall >= 0.5, s"IVF threshold recall $recall")
    // the emitted similarities must equal the exact kernel's values for
    // the pairs both found (same fold, same rounding)
    def valued(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ev = valued("l03c_cosine_neardup")
    val iv = valued("l03d_ivf_neardup")
    iv.foreach { case (k, v) => assert(ev(k) == v, s"cos mismatch at $k") }
  }

  test("l53c IVF image near-dup: precision 1.0, recall vs exact l53b, " +
      "and the exact pairs ARE the keyed ground truth") {
    def pairSet(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("l53b_image_neardup")
    val ivf = pairSet("l53c_image_neardup_ivf")
    assert(exact.nonEmpty && ivf.nonEmpty)
    // ground truth by construction: docs sharing doc_id % 50 hold
    // near-identical images (186/192 shared channels), everything else
    // is independent noise — the exact kernel must find exactly the
    // same-key pairs, no more, no fewer
    val n = graft.Tables.load(spark, sfDir, "documents").count()
    val expectedPairs = (0L until n).groupBy(_ % 50).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(exact.forall { case (a, b) => a % 50 == b % 50 },
      "a cross-key image pair passed the 0.8 threshold")
    assert(exact.size.toLong == expectedPairs,
      s"exact image near-dups ${exact.size} != keyed ground truth $expectedPairs")
    // IVF flavor: precision 1.0 (subset — every candidate re-passes the
    // exact cosine), recall measured
    assert(ivf.subsetOf(exact),
      s"false positives: ${ivf.diff(exact).take(3)}")
    val recall = ivf.size.toDouble / exact.size
    info(f"l53c recall vs exact image pairs = $recall%.2f (nprobe=2/8)")
    assert(recall >= 0.5, s"IVF image near-dup recall $recall")
    def valued(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ev = valued("l53b_image_neardup")
    valued("l53c_image_neardup_ivf").foreach { case (k, v) =>
      assert(ev(k) == v, s"cos mismatch at $k")
    }
  }

  test("l59b IVF video near-dup: precision 1.0, recall vs exact l59, " +
      "and the exact pooled pairs ARE the keyed ground truth") {
    def pairSet(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("l59_video_neardup")
    val ivf = pairSet("l59b_video_neardup_ivf")
    assert(exact.nonEmpty && ivf.nonEmpty)
    // ground truth by construction: videos sharing doc_id % 50 pool to
    // near-identical embeddings (45/48 positions fully shared; the 3
    // noise positions differ by one frame's uint8 out of a 4-frame sum),
    // cross-key videos are independent noise
    val n = graft.Tables.load(spark, sfDir, "documents").count()
    val expectedPairs = (0L until n).groupBy(_ % 50).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(exact.forall { case (a, b) => a % 50 == b % 50 },
      "a cross-key video pair passed the 0.8 threshold")
    assert(exact.size.toLong == expectedPairs,
      s"exact video near-dups ${exact.size} != keyed ground truth $expectedPairs")
    assert(ivf.subsetOf(exact),
      s"false positives: ${ivf.diff(exact).take(3)}")
    val recall = ivf.size.toDouble / exact.size
    info(f"l59b recall vs exact video pairs = $recall%.2f (nprobe=2/8)")
    assert(recall >= 0.5, s"IVF video near-dup recall $recall")
    def valued(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ev = valued("l59_video_neardup")
    valued("l59b_video_neardup_ivf").foreach { case (k, v) =>
      assert(ev(k) == v, s"cos mismatch at $k")
    }
  }

  test("l60b IVF audio near-dup: precision 1.0, recall vs exact l60, " +
      "and the exact pooled pairs ARE the keyed ground truth") {
    def pairSet(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet("l60_audio_neardup")
    val ivf = pairSet("l60b_audio_neardup_ivf")
    assert(exact.nonEmpty && ivf.nonEmpty)
    // ground truth by construction: clips sharing doc_id % 50 derive
    // from the same md5 sample stream (only the first 3 samples carry
    // per-doc noise — one window's sum moves by <= ~765 against a
    // ~3300 vector norm), cross-key clips are independent noise with
    // cosines concentrated at 0 +- 1/sqrt(128)
    val n = graft.Tables.load(spark, sfDir, "documents").count()
    val expectedPairs = (0L until n).groupBy(_ % 50).values
      .map(g => g.size.toLong * (g.size - 1) / 2).sum
    assert(exact.forall { case (a, b) => a % 50 == b % 50 },
      "a cross-key clip pair passed the 0.8 threshold")
    assert(exact.size.toLong == expectedPairs,
      s"exact audio near-dups ${exact.size} != keyed ground truth $expectedPairs")
    assert(ivf.subsetOf(exact),
      s"false positives: ${ivf.diff(exact).take(3)}")
    val recall = ivf.size.toDouble / exact.size
    info(f"l60b recall vs exact audio pairs = $recall%.2f (nprobe=2/8)")
    assert(recall >= 0.5, s"IVF audio near-dup recall $recall")
    def valued(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ev = valued("l60_audio_neardup")
    valued("l60b_audio_neardup_ivf").foreach { case (k, v) =>
      assert(ev(k) == v, s"cos mismatch at $k")
    }
  }

  test("l61b ensemble scale path: clusters REFINE the exact ensemble " +
      "(never a false merge), measured recall; l61c SQL == l61b") {
    def labels(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = labels("l61_ensemble_dedup")
    val scale = labels("l61b_ensemble_scale")
    assert(exact.nonEmpty && scale.nonEmpty)
    // both scale-side signals exact-RE-CHECK their candidates, so every
    // scale edge is a true exact edge → every scale cluster must sit
    // inside ONE exact cluster
    scale.groupBy(_._2).values.foreach { members =>
      assert(members.keys.map(exact).toSet.size == 1,
        "an ensemble-scale cluster spans two exact clusters (false merge)")
    }
    // clustered-doc recall: how much of the exact ensemble's clustered
    // population the sub-quadratic path recovers
    val recall = scale.size.toDouble / exact.size
    info(f"l61b clustered-doc recall vs exact ensemble = $recall%.2f")
    assert(recall >= 0.5, s"ensemble scale recall $recall")
    // the SQL door composes the SAME kernels at the same parameters
    assert(labels("l61c_ensemble_sql") == scale,
      "l61c SQL composition != l61b")
  }

  test("l13 int8 quantization: codes bounded, error <= scale/2, high recall") {
    import org.apache.spark.sql.functions._
    val vecs = graft.Tables.load(spark, sfDir, "embeddings")
    val q = graft.ops.Similarity.quantizeInt8(vecs)
    val stats = q.join(vecs, "vec_id")
      .select(
        array_max(transform(col("codes"), c => abs(c.cast("int")))).as("maxc"),
        (array_max(zip_with(col("embedding"), col("codes"),
          (e, c) => abs(e.cast("double") - c.cast("double") * col("scale"))))
          / col("scale")).as("relerr"))
      .agg(max("maxc").as("mc"), max("relerr").as("re")).head()
    assert(stats.getInt(0) <= 127, s"code out of range: ${stats.getInt(0)}")
    assert(stats.getDouble(1) <= 0.5 + 1e-9,
      s"reconstruction error above scale/2: ${stats.getDouble(1)}")
    def pairs(key: String) = SparkEntry.queries(key)(spark, sfDir)
      .select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("l03_cosine_topk")
    val quant = pairs("l13_quantized_topk")
    val recall = quant.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.7, s"quantized recall $recall")
  }

  test("q27 sample: deterministic for fixed seed, fraction within bounds") {
    val a = SparkEntry.queries("q27_sample")(spark, sfDir).collect()
    val b = SparkEntry.queries("q27_sample")(spark, sfDir).collect()
    assert(a.sameElements(b))
    val total = a.map(_.getLong(1)).sum
    assert(total > 6000 * 0.05 && total < 6000 * 0.2, s"sampled $total of ~6000")
  }
}
