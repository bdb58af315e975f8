package graft

import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)

case class S19Doc(doc_id: Long, text: String, n_chars: Long)

case class Scd2Row(user_id: Long, value_cents: Long, snap_us: Long)

/** Structured Streaming semantics (SURVEY.md §2.4): batch-equivalence via
  * MemoryStream replay, watermark late-data drops, stateful dedup,
  * arbitrary state, stream-static joins.
  */
class StreamingSpec extends SparkSpecBase {

  // 2023-11-15 00:00:00 UTC — an exact hour boundary, so minute offsets
  // land deterministically inside tumbling windows
  private def ts(minutes: Long): java.sql.Timestamp =
    new java.sql.Timestamp(1700006400000L + minutes * 60000L)

  private def mkEvents(rows: (Long, Long, Long, String, Double)*): Seq[Ev] =
    rows.map { case (id, min, user, typ, v) => Ev(id, ts(min), user, typ, v) }

  /** Run a streaming transform over batches of events into a memory sink. */
  private def runStream(
      name: String,
      mode: OutputMode,
      transform: DataFrame => DataFrame,
      batches: Seq[Seq[Ev]]): DataFrame = {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = transform(source.toDF())
      .writeStream.format("memory").queryName(name).outputMode(mode).start()
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    spark.table(name)
  }

  private val sampleBatches: Seq[Seq[Ev]] = Seq(
    mkEvents((1, 0, 1, "click", 1.0), (2, 10, 1, "view", 2.0),
      (3, 61, 2, "click", 3.0)),
    mkEvents((4, 65, 1, "click", 4.0), (5, 130, 2, "purchase", 5.0)))

  test("S01 tumbling counts: stream (complete) == batch") {
    import spark.implicits._
    val streamed = runStream("s01sink", OutputMode.Complete(),
        Streams.tumblingCounts, sampleBatches)
      .orderBy("ws", "event_type").collect().toSeq
    val batch = Streams.tumblingCounts(sampleBatches.flatten.toDF())
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("S02 sliding sum: stream (complete) == batch") {
    import spark.implicits._
    val streamed = runStream("s02sink", OutputMode.Complete(),
        Streams.slidingSumCents, sampleBatches)
      .orderBy("ws", "event_type").collect().toSeq
    val batch = Streams.slidingSumCents(sampleBatches.flatten.toDF())
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("S03 session windows: stream (complete) == batch == T06 rule off-boundary") {
    import spark.implicits._
    val streamed = runStream("s03sink", OutputMode.Complete(),
        Streams.sessionWindows, sampleBatches)
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = Streams.sessionWindows(sampleBatches.flatten.toDF())
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
    // user 1: events at 0,10 (one session) and 65 (gap 55min -> new);
    // user 2: 61 and 130 -> two sessions. Total 4 sessions.
    assert(batch.length == 4)
  }

  test("S04 watermark: late event beyond watermark is dropped (append)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = Streams.tumblingCounts(source.toDF())
      .writeStream.format("memory").queryName("s04sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // hour-0 events, then hour-3 events -> watermark advances to
      // (180min - 10min) = hour 2+, closing the hour-0 and hour-1 windows.
      source.addData(mkEvents((1, 0, 1, "click", 1.0), (2, 30, 1, "click", 1.0)))
      q.processAllAvailable()
      source.addData(mkEvents((3, 185, 1, "view", 1.0)))
      q.processAllAvailable()
      val closed = spark.table("s04sink").collect()
      val hour0 = closed.filter(_.getAs[Long]("cnt") == 2)
      assert(hour0.length == 1) // hour-0 window emitted with both events
      // a late hour-0 event now arrives; it must NOT re-emit or update
      source.addData(mkEvents((4, 5, 1, "click", 1.0)))
      q.processAllAvailable()
      val after = spark.table("s04sink").collect()
      assert(after.map(_.toString).sorted.sameElements(
        closed.map(_.toString).sorted))
    } finally q.stop()
  }

  test("S05 dropDuplicatesWithinWatermark: duplicate event_ids collapse") {
    import spark.implicits._
    val batches = Seq(
      mkEvents((1, 0, 1, "click", 1.0), (2, 1, 1, "view", 2.0)),
      mkEvents((1, 0, 1, "click", 1.0), (3, 2, 1, "click", 3.0)), // dup id=1
      mkEvents((2, 1, 1, "view", 2.0))) // dup id=2
    val out = runStream("s05sink", OutputMode.Append(),
      Streams.dedupWithinWatermark, batches)
    assert(out.select("event_id").collect().map(_.getLong(0)).sorted
      .sameElements(Array(1L, 2L, 3L)))
  }

  test("RocksDB state store: windowed agg, session windows and dedup on the cluster backend") {
    // The transformWithState tests (S08-S12) already REQUIRE RocksDB;
    // this pins the remaining state machinery — windowed aggregation,
    // session windows, dropDuplicatesWithinWatermark — to the provider a
    // 100 TB deployment runs (state larger than executor heap, changelog
    // checkpointing), asserting streaming == batch under it.
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val streamed = runStream("rocksdbS01", OutputMode.Complete(),
          Streams.tumblingCounts, sampleBatches)
        .orderBy("ws", "event_type").collect().toSeq
      val batch = Streams.tumblingCounts(sampleBatches.flatten.toDF())
        .orderBy("ws", "event_type").collect().toSeq
      assert(streamed == batch && batch.nonEmpty)
      val sessions = runStream("rocksdbS03", OutputMode.Complete(),
          Streams.sessionWindows, sampleBatches)
        .orderBy("user_id", "session_start").collect().toSeq
      val sessionsBatch = Streams.sessionWindows(sampleBatches.flatten.toDF())
        .orderBy("user_id", "session_start").collect().toSeq
      assert(sessions == sessionsBatch && sessionsBatch.length == 4)
      val dedupBatches = Seq(
        mkEvents((1, 0, 1, "click", 1.0), (2, 1, 1, "view", 2.0)),
        mkEvents((1, 0, 1, "click", 1.0), (3, 2, 1, "click", 3.0)),
        mkEvents((2, 1, 1, "view", 2.0)))
      val deduped = runStream("rocksdbS05", OutputMode.Append(),
        Streams.dedupWithinWatermark, dedupBatches)
      assert(deduped.select("event_id").collect().map(_.getLong(0)).sorted
        .sameElements(Array(1L, 2L, 3L)))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("S06 stateful anomaly flags: stream == batch, hand-checked case") {
    import spark.implicits._
    // user 1: stable values then a spike; spike must flag, others not.
    val vals = Seq(10.0, 10.2, 9.8, 10.1, 9.9, 10.0, 10.1, 99.0, 10.0)
    val evs = vals.zipWithIndex.map { case (v, i) =>
      Streams.EventIn(i.toLong, 1L, v)
    }
    val batchOut = Streams.flagAnomalies(evs.toDS()).collect()
      .filter(_.anomalous).map(_.event_id).toSeq
    assert(batchOut == Seq(7L))

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.EventIn]
    val q = Streams.flagAnomalies(source.toDS())
      .writeStream.format("memory").queryName("s06sink")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(3).foreach { g => source.addData(g); q.processAllAvailable() }
      val streamOut = spark.table("s06sink").collect()
        .filter(_.getAs[Boolean]("anomalous")).map(_.getAs[Long]("event_id")).toSeq
      assert(streamOut == Seq(7L))
    } finally q.stop()
  }

  test("S06 batch fold == flatMapGroupsWithState path; hot key streams through") {
    import spark.implicits._
    // fixture-scale equivalence across many users
    val in = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .as[Streams.EventIn]
    val viaState = Streams.flagAnomalies(in).collect()
      .map(f => (f.event_id, f.anomalous)).toMap
    val viaFold = Streams.flagAnomaliesBatch(in).collect()
      .map(f => (f.event_id, f.anomalous)).toMap
    assert(viaFold == viaState && viaFold.nonEmpty)

    // hot key: ONE user, 100k events — completes through the O(1)-state
    // fold and matches a local linear reference fold
    val n = 100000
    val hot = spark.range(n).select(
      col("id").as("event_id"), lit(1L).as("user_id"),
      (when(col("id") % 1000 === 999, 1e6).otherwise(10.0) +
        col("id") / lit(1e9)).as("value"))
      .as[Streams.EventIn]
    val flagged = Streams.flagAnomaliesBatch(hot).collect()
    assert(flagged.length == n)
    // the periodic 1e6 spikes beyond the warm-up must flag; baseline not
    val byId = flagged.map(f => f.event_id -> f.anomalous).toMap
    assert(byId(1999L) && byId(50999L) && !byId(500L) && !byId(50000L))
  }

  test("G_session batch fold == window-based sessionEdges") {
    import spark.implicits._
    val evs = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .as[Streams.SessionEv]
    val viaFold = Streams.sessionEdgesBatch(evs)
      .collect().map(e => (e.src, e.dst, e.avail_us, e.arrive_us)).toSet
    val viaWindow = graft.ops.Graphs.sessionEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(viaFold == viaWindow && viaFold.nonEmpty)
  }

  test("S08 rounding: negative exact-half-cents round away from zero") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // -0.125 * 100 = -12.5 exactly in binary; HALF_UP away-from-zero
    // (Det.cents / the oracle) gives -13, math.round would give -12
    val evs = Seq(Streams.EventIn2(1L, -0.125), Streams.EventIn2(2L, 0.125))
    val out = Streams.userTotals(evs.toDS()).collect()
      .map(r => r.user_id -> r.sum_cents).toMap
    assert(out == Map(1L -> -13L, 2L -> 13L))
  }

  test("S18 near-dup gate: stream == batch, bucket state carries across batches") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // batch transformWithState needs the coordinator endpoint streaming
    // normally bootstraps (same bootstrap as StreamQueries.stateSession)
    org.apache.spark.sql.GraftPlanBridge.ensureStateStoreCoordinator(spark)
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "totally different words here now"),
      (3L, "alpha beta gamma delta"),          // exact dup of 1
      (4L, "alpha beta gamma delta epsilon"),  // near dup of 1
      (5L, "unrelated content entirely distinct tokens"))
      .toDF("doc_id", "text")
    val bandRows = Streams.simHashBands(docs)
      .as[Streams.BandEv].collect().toSeq
    // independent local oracle: dup ⟺ a smaller doc_id shares a bucket
    val minPer = bandRows.groupBy(e => (e.band, e.bits))
      .view.mapValues(_.map(_.doc_id).min).toMap
    val expect = bandRows.groupBy(_.doc_id).map { case (d, rs) =>
      d -> rs.exists(e => minPer((e.band, e.bits)) < d) }
    assert(expect(3L) && !expect(2L) && !expect(1L),
      s"fixture must contain a dup and non-dups: $expect")

    val batch = Streams.bandGate(bandRows.toDS()).collect()
      .groupBy(_.doc_id).map { case (d, rs) => d -> rs.exists(_.prior) }
    assert(batch == expect)

    // streaming: docs arrive in id order over three micro-batches; the
    // bucket-minimum state must carry batch 1's claims into batch 2+
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.BandEv]
    val q = Streams.bandGate(source.toDS()).toDF()
      .writeStream.format("memory").queryName("s18sink")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L)).foreach { ids =>
        source.addData(bandRows.filter(e => ids.contains(e.doc_id)))
        q.processAllAvailable()
      }
      val viaStream = spark.table("s18sink").collect()
        .map(r => (r.getLong(0), r.getBoolean(2)))
        .groupBy(_._1).map { case (d, rs) => d -> rs.exists(_._2) }
      assert(viaStream == expect)
    } finally q.stop()
  }

  test("S19 LSH maintenance stream: ledgered appends == batch build, replay skipped") {
    import spark.implicits._
    import graft.ops.SimIndex
    for (p <- Seq("s19lsh", "s19full");
         sfx <- Seq("_meta", "_bands", "_sigs", "_applied")) {
      spark.sql(s"DROP TABLE IF EXISTS $p$sfx")
      graft.ops.Bucketing.dropStaleLocation(spark, p + sfx)
    }
    val docs = Tables.load(spark, sfDir, "documents")
      .filter(col("doc_id") < 200)
      .select("doc_id", "text", "n_chars")
    val rows = docs.as[(Long, String, Long)].collect()
      .map(t => S19Doc(t._1, t._2, t._3)).toSeq

    implicit val sq = spark.sqlContext
    val source = MemoryStream[S19Doc]
    val ckpt = java.nio.file.Files.createTempDirectory("s19ckpt").toString
    val q = Streams.maintainLshIndex(source.toDF(), "s19lsh", ckpt,
      numHashes = 16, bands = 8, buckets = 4)
    try {
      rows.grouped(70).foreach { g => source.addData(g); q.processAllAvailable() }
    } finally q.stop()

    // trailing index == a one-shot batch build over the same corpus
    assert(SimIndex.isFresh(spark, "s19lsh", docs))
    SimIndex.writeLshIndex(docs, "s19full", numHashes = 16, bands = 8,
      buckets = 4)
    val viaStream = SimIndex.lshCandidatesFromIndex(spark, "s19lsh")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaBatch = SimIndex.lshCandidatesFromIndex(spark, "s19full")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStream == viaBatch && viaStream.nonEmpty)

    // a replayed micro-batch (restart duplicating batch id 1) is a no-op
    val replaySlice = spark.createDataFrame(rows.slice(70, 140))
    SimIndex.appendLshIndexBatch(replaySlice, "s19lsh", batchId = 1L,
      numHashes = 16, bands = 8, buckets = 4)
    assert(SimIndex.isFresh(spark, "s19lsh", docs),
      "replayed batch must not double-append")
  }

  test("S08 transformWithState: streaming final state == batch run") {
    import spark.implicits._
    // transformWithState requires the RocksDB state store provider
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = Seq(
      Streams.EventIn2(1L, 1.0), Streams.EventIn2(1L, 2.5),
      Streams.EventIn2(2L, 4.0), Streams.EventIn2(1L, 0.5),
      Streams.EventIn2(2L, 1.25))
    val batch = Streams.userTotals(evs.toDS()).collect()
      .map(r => r.user_id -> (r.n_events, r.sum_cents)).toMap
    assert(batch == Map(1L -> (3L, 400L), 2L -> (2L, 525L)))

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.EventIn2]
    val q = Streams.userTotals(source.toDS())
      .writeStream.format("memory").queryName("s08sink")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(2).foreach { g => source.addData(g); q.processAllAvailable() }
      // Update mode emits one row per user per batch; the LAST row per
      // user is the final state and must equal the batch result
      val rows = spark.table("s08sink").collect()
      val last = rows.zipWithIndex
        .groupBy(_._1.getAs[Long]("user_id"))
        .map { case (u, rs) =>
          val r = rs.maxBy(_._2)._1
          u -> (r.getAs[Long]("n_events"), r.getAs[Long]("sum_cents"))
        }
      assert(last == batch)
    } finally q.stop()
  }

  test("state TTL (ROADMAP #12): long TTL survives consecutive batches; " +
      "expired state is absent while the no-TTL control carries") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // ProcessingTime time mode advances on EVERY trigger, so with
    // no-data micro-batches on (the default) the engine fires empty
    // batches back to back — each committing a RocksDB snapshot per
    // partition — and processAllAvailable never observes quiet. TTL
    // expiry is asserted on READ here, which lazy eviction serves.
    val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
    val ndPrev = spark.conf.get(ndKey)
    spark.conf.set(ndKey, "false")
    implicit val sq = spark.sqlContext

    def lastRow(sink: String, key: Long): (Long, Long) = {
      val rows = spark.table(sink).filter(col("user_id") === key).collect()
      val r = rows.last
      (r.getAs[Long]("ttl_total"), r.getAs[Long]("all_total"))
    }

    // ONE outer try/finally around both directions: a failure anywhere
    // (including direction 1) must not leak the changed no-data-batch
    // conf into the rest of the suite.
    try {
      // Direction 1 — a generous TTL (10 min) does NOT expire between two
      // back-to-back batches: the TTL'd counter accumulates like the
      // control.
      val s1 = MemoryStream[Streams.TtlIn]
      val q1 = Streams.ttlCounterStream(s1.toDS(),
          java.time.Duration.ofMinutes(10))
        .writeStream.format("memory").queryName("ttl_long")
        .outputMode(OutputMode.Update()).start()
      try {
        s1.addData(Streams.TtlIn(1L, 5L)); q1.processAllAvailable()
        s1.addData(Streams.TtlIn(1L, 2L)); q1.processAllAvailable()
        assert(lastRow("ttl_long", 1L) == ((7L, 7L)))
      } finally q1.stop()

      // Direction 2 — a 1 s TTL with a 4 s silent gap: the TTL'd counter
      // is ABSENT at the next read (restarts at the new batch's rows)
      // while the NONE-TTL control still carries the full total — the
      // expiry is the TTL's doing, not state loss. Bounds are generous:
      // the sleep is 4× the TTL, and nothing asserts timing BELOW the
      // TTL on this query (no flakiness window on a loaded box).
      val s2 = MemoryStream[Streams.TtlIn]
      val q2 = Streams.ttlCounterStream(s2.toDS(),
          java.time.Duration.ofSeconds(1))
        .writeStream.format("memory").queryName("ttl_short")
        .outputMode(OutputMode.Update()).start()
      try {
        s2.addData(Streams.TtlIn(9L, 5L)); q2.processAllAvailable()
        Thread.sleep(4000L)
        s2.addData(Streams.TtlIn(9L, 2L)); q2.processAllAvailable()
        assert(lastRow("ttl_short", 9L) == ((2L, 7L)))
      } finally q2.stop()
    } finally spark.conf.set(ndKey, ndPrev)
  }

  test("streaming G_session construction == batch sessionEdges") {
    import spark.implicits._
    // batch reference over the real fixture table
    val batchEdges = graft.ops.Graphs.sessionEdges(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    val evs = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"))
      .orderBy("ts_us", "event_id")
      .as[Streams.SessionEv].collect().toSeq

    // batch run of the streaming transform
    val viaBatch = Streams.sessionEdgesStream(evs.toDS())
      .collect().map(e => (e.src, e.dst, e.avail_us, e.arrive_us)).toSet
    assert(viaBatch == batchEdges && batchEdges.nonEmpty)

    // streaming run, events arriving over 4 micro-batches in time order
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.SessionEv]
    val q = Streams.sessionEdgesStream(source.toDS())
      .writeStream.format("memory").queryName("gsessionsink")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(math.max(1, evs.length / 4)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val viaStream = spark.table("gsessionsink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(viaStream == batchEdges)
    } finally q.stop()
  }

  test("S07 stream-static join: events enriched with customer dim") {
    import spark.implicits._
    val customers = Tables.load(spark, sfDir, "customer")
    val out = runStream("s07sink", OutputMode.Append(),
      df => Streams.enrichWithCustomers(df, customers),
      Seq(mkEvents((1, 0, 3, "click", 1.0), (2, 1, 7, "view", 2.0))))
    val rows = out.select("event_id", "segment").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == 2 && rows.values.forall(_ != null))
  }

  test("S13 stream-stream interval join == batch range join") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val views = mkEvents((1, 0, 1, "view", 1.0), (2, 5, 2, "view", 1.0),
      (3, 100, 1, "view", 1.0))
    val purchases = mkEvents((10, 10, 1, "purchase", 5.0),
      (11, 40, 1, "purchase", 5.0), // 40 > 0+30: outside view 1's window
      (12, 20, 2, "purchase", 2.0), (13, 125, 1, "purchase", 9.0))
    val vSrc = MemoryStream[Ev]
    val pSrc = MemoryStream[Ev]
    val q = Streams.viewPurchaseJoin(vSrc.toDF(), pSrc.toDF())
      .writeStream.format("memory").queryName("s13sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // split across micro-batches so matches span batch boundaries
      vSrc.addData(views.take(2)); pSrc.addData(purchases.take(2))
      q.processAllAvailable()
      vSrc.addData(views.drop(2)); pSrc.addData(purchases.drop(2))
      q.processAllAvailable()
      val streamed = spark.table("s13sink")
        .orderBy("view_id", "purchase_id").collect().toSeq
      val batch = Streams.viewPurchaseJoin(views.toDF(), purchases.toDF())
        .orderBy("view_id", "purchase_id").collect().toSeq
      assert(streamed == batch && batch.nonEmpty)
      // view 1 (t=0, u1) -> purchase 10 (t=10) only; view 2 (t=5, u2) ->
      // purchase 12 (t=20); view 3 (t=100, u1) -> purchase 13 (t=125)
      assert(batch.map(r => (r.getLong(0), r.getLong(1)))
        == Seq((1L, 10L), (2L, 12L), (3L, 13L)))
    } finally q.stop()
  }

  test("S15 semi stream-stream join: matched views emit once, unmatched never") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // view 1 (t=0, u1): purchase 10 (t=10) AND 11 (t=25) both match — must
    // still emit once; view 2 (t=5, u2): no purchase; view 3 (t=100, u1):
    // purchase 13 (t=125) matches
    val views = mkEvents((1, 0, 1, "view", 1.0), (2, 5, 2, "view", 1.0),
      (3, 100, 1, "view", 1.0))
    val purchases = mkEvents((10, 10, 1, "purchase", 5.0),
      (11, 25, 1, "purchase", 5.0), (13, 125, 1, "purchase", 9.0))
    val vSrc = MemoryStream[Ev]
    val pSrc = MemoryStream[Ev]
    val q = Streams.viewPurchaseJoinSemi(vSrc.toDF(), pSrc.toDF())
      .writeStream.format("memory").queryName("s15sink")
      .outputMode(OutputMode.Append()).start()
    try {
      // split across micro-batches so a match spans batch boundaries
      vSrc.addData(views.take(2)); pSrc.addData(purchases.take(1))
      q.processAllAvailable()
      vSrc.addData(views.drop(2)); pSrc.addData(purchases.drop(1))
      q.processAllAvailable()
      val streamed = spark.table("s15sink")
        .orderBy("view_id").collect().toSeq
      val batch = Streams.viewPurchaseJoinSemi(views.toDF(), purchases.toDF())
        .orderBy("view_id").collect().toSeq
      assert(streamed == batch && batch.nonEmpty)
      assert(batch.map(_.getLong(0)) == Seq(1L, 3L))
    } finally q.stop()
  }

  test("S16 foreachBatch snapshot sink: == batch latest state, replay is a no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val batches = Seq(
      mkEvents((1, 0, 1, "click", 1.0), (2, 10, 1, "view", 2.5),
        (3, 5, 2, "click", 3.0)),
      mkEvents((4, 20, 1, "click", 4.0), (5, 2, 2, "view", 9.0)), // 5 is OLDER than 3
      mkEvents((6, 30, 3, "purchase", 7.0)))
    val source = MemoryStream[Ev]
    var state = Streams.latestState(Seq.empty[Ev].toDF())
    var lastBatch: Option[DataFrame] = None
    val q = source.toDF().writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        // localCheckpoint: the merged state must not re-read the (since
        // recycled) micro-batch source when the next merge plans
        state = Streams.mergeSnapshot(state, b).localCheckpoint()
        lastBatch = Some(b.localCheckpoint())
      }
      .outputMode(OutputMode.Append()).start()
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getLong(3)))
      .toSet
    val streamed = rows(state)
    val batch = rows(Streams.latestState(batches.flatten.toDF()))
    assert(streamed == batch && batch.nonEmpty)
    // event 5 (t=2) must NOT have displaced event 3 (t=5) for user 2
    assert(streamed.exists { case (u, id, _, _) => u == 2L && id == 3L })
    // replaying the final micro-batch leaves the state unchanged
    val replayed = rows(Streams.mergeSnapshot(state, lastBatch.get))
    assert(replayed == streamed)
  }

  test("T09 index maintained by foreachBatch: == batch rollup, replay no-op, reagg from index") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // user 1 spans two days (minute 1500 > 24h), user 2 stays in day one
    val batches = Seq(
      mkEvents((1, 0, 1, "click", 1.0), (2, 10, 1, "view", 2.5),
        (3, 5, 2, "click", 3.0)),
      mkEvents((4, 1500, 1, "click", 4.0), (5, 2, 2, "view", 9.0)),
      mkEvents((6, 1600, 1, "purchase", 7.0)))
    val source = MemoryStream[Ev]
    var state = Streams.rollupPartials(Seq.empty[Ev].toDF(), -1L)
    var lastBatch: Option[DataFrame] = None
    var lastId = -1L
    val q = source.toDF().writeStream
      .foreachBatch { (b: DataFrame, id: Long) =>
        state = Streams.mergeRollup(state, b, id).localCheckpoint()
        lastBatch = Some(b.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
    // the maintained partials re-aggregate to the batch-built rollup
    val all = batches.flatten.toDF()
    val fromRaw = graft.ops.Temporal.rollupDaily(all, entity = "user_id",
      ts = "ts", valueCents = graft.Det.cents(col("value")))
    val streamed = rows(Streams.dailyFromPartials(state))
    assert(streamed == rows(fromRaw) && streamed.nonEmpty)
    assert(streamed.map(t => (t._1, t._2)).size > 2,
      "fixture must produce >1 day for some user")
    // a RETRIED final micro-batch must not double-count the additive
    // partials: merge is delete-then-insert keyed by batch id
    val replayed = Streams.mergeRollup(state, lastBatch.get, lastId)
    assert(rows(Streams.dailyFromPartials(replayed)) == streamed)
    // and the coarser window answers FROM the maintained index
    def weekly(daily: DataFrame) = graft.ops.Temporal.reaggDaily(daily,
        entity = "user_id", origin = "2023-11-13", days = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(weekly(Streams.dailyFromPartials(state)) == weekly(fromRaw))
  }

  test("S13b outer stream-stream join: unmatched view emits null after watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // view 1 (t=0, u1) never gets a purchase; view 2 (t=5, u2) matches
    val views = mkEvents((1, 0, 1, "view", 1.0), (2, 5, 2, "view", 1.0))
    val purchases = mkEvents((10, 20, 2, "purchase", 2.0))
    // late traffic that only advances BOTH watermarks past view 1's
    // 30-minute window (+10-min lateness), forcing the null emission
    val flushV = mkEvents((3, 300, 9, "view", 1.0))
    val flushP = mkEvents((11, 300, 9, "purchase", 1.0))
    val vSrc = MemoryStream[Ev]
    val pSrc = MemoryStream[Ev]
    val q = Streams.viewPurchaseJoinOuter(vSrc.toDF(), pSrc.toDF())
      .writeStream.format("memory").queryName("s13bsink")
      .outputMode(OutputMode.Append()).start()
    try {
      vSrc.addData(views); pSrc.addData(purchases)
      q.processAllAvailable()
      vSrc.addData(flushV); pSrc.addData(flushP)
      q.processAllAvailable()
      // one more empty-ish nudge: outer-join state eviction happens a
      // micro-batch after the watermark move
      vSrc.addData(Seq.empty[Ev]); pSrc.addData(Seq.empty[Ev])
      q.processAllAvailable()
      val streamed = spark.table("s13bsink")
        .filter(col("view_id") <= 2)
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      val batch = Streams.viewPurchaseJoinOuter(views.toDF(), purchases.toDF())
        .collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
      assert(batch == Set((1L, -1L), (2L, 10L)))
      assert(streamed == batch,
        s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("S17 full outer stream-stream join: both sides null-extend after watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // view 1 (t=0, u1) never purchased; purchase 12 (t=2, u3) never
    // viewed; view 2 (t=5, u2) matches purchase 10 (t=20, u2)
    val views = mkEvents((1, 0, 1, "view", 1.0), (2, 5, 2, "view", 1.0))
    val purchases = mkEvents((10, 20, 2, "purchase", 2.0),
      (12, 2, 3, "purchase", 2.0))
    val flushV = mkEvents((3, 300, 9, "view", 1.0))
    val flushP = mkEvents((11, 300, 9, "purchase", 1.0))
    val vSrc = MemoryStream[Ev]
    val pSrc = MemoryStream[Ev]
    val q = Streams.viewPurchaseJoinFull(vSrc.toDF(), pSrc.toDF())
      .writeStream.format("memory").queryName("s17sink")
      .outputMode(OutputMode.Append()).start()
    try {
      vSrc.addData(views); pSrc.addData(purchases)
      q.processAllAvailable()
      vSrc.addData(flushV); pSrc.addData(flushP)
      q.processAllAvailable()
      vSrc.addData(Seq.empty[Ev]); pSrc.addData(Seq.empty[Ev])
      q.processAllAvailable()
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => ((if (r.isNullAt(0)) -1L else r.getLong(0)),
          (if (r.isNullAt(1)) -1L else r.getLong(1)), r.getLong(2))).toSet
      val streamed = norm(spark.table("s17sink")
        .filter(coalesce(col("view_id"), lit(-1L)) <= 2 &&
          coalesce(col("purchase_id"), lit(-1L)) =!= 11L))
      val batch = norm(
        Streams.viewPurchaseJoinFull(views.toDF(), purchases.toDF()))
      // the unmatched VIEW null-extends, the unmatched PURCHASE
      // null-extends, and the matched pair appears exactly once
      assert(batch == Set((1L, -1L, 1L), (2L, 10L, 2L), (-1L, 12L, 3L)))
      assert(streamed == batch, s"stream $streamed != batch $batch")
    } finally q.stop()
  }

  test("S14 interval maintenance: stream == batch fold == intervalView closed rows") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // two users, values changing over two micro-batches (cross-batch
    // intervals must close correctly from state)
    def ch(id: Long, min: Long, user: Long, cents: Long) =
      Streams.ChangeEv(user, id, 1700006400000000L + min * 60000000L, cents)
    val b1 = Seq(ch(1, 0, 1, 100), ch(2, 10, 1, 200), ch(3, 5, 2, 50))
    val b2 = Seq(ch(4, 20, 1, 300), ch(5, 15, 2, 70))
    val src = MemoryStream[Streams.ChangeEv]
    val q = Streams.intervalsStream(src.toDS())
      .writeStream.format("memory").queryName("s14sink")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
      val streamed = spark.table("s14sink")
        .orderBy("user_id", "valid_from_us").collect().toSeq
      val batch = Streams.intervalsBatch((b1 ++ b2).toDS())
        .toDF().orderBy("user_id", "valid_from_us").collect().toSeq
      assert(streamed == batch && batch.length == 3)
      // and both equal the window-based interval view's closed rows
      val iv = graft.ops.Temporal.intervalView(
          (b1 ++ b2).toDF("user_id", "event_id", "ts_us", "cents")
            .withColumn("ts", col("ts_us")),
          entity = "user_id", ts = "ts", tieBreak = "event_id")
        .filter(col("valid_to").isNotNull)
        .select(col("user_id"), col("event_id"),
          col("valid_from").as("valid_from_us"),
          col("valid_to").as("valid_to_us"), col("cents"))
        .orderBy("user_id", "valid_from_us").collect().toSeq
      assert(iv == batch)
    } finally q.stop()
  }

  test("S29 streaming gaps: stream == batch fold == Temporal.gaps") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // user 1: events at 0, 10, 100, 101 min (gap 10->100 = 90min > 1h;
    // the 1-min and 10-min silences stay under threshold); user 2: a
    // cross-batch gap (state must carry the last-seen event over the
    // micro-batch boundary) and an exactly-threshold silence (NOT a gap)
    def e(id: Long, min: Long, user: Long) =
      Streams.GapEv(user, id, 1700006400000000L + min * 60000000L)
    val b1 = Seq(e(1, 0, 1), e(2, 10, 1), e(5, 0, 2))
    val b2 = Seq(e(3, 100, 1), e(4, 101, 1), e(6, 120, 2), e(7, 180, 2))
    val minGapUs = 3600L * 1000000
    val src = MemoryStream[Streams.GapEv]
    val q = Streams.gapsStream(src.toDS(), minGapUs)
      .writeStream.format("memory").queryName("s29sink")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
      val streamed = spark.table("s29sink")
        .orderBy("user_id", "gap_start_us").collect().toSeq
      val batch = Streams.gapsBatch((b1 ++ b2).toDS(), minGapUs)
        .toDF().orderBy("user_id", "gap_start_us").collect().toSeq
      assert(streamed == batch)
      // user 1's 90-min gap + user 2's cross-batch 120-min gap; the
      // exactly-60-min silence (120->180) is excluded by the boundary rule
      assert(batch.map(r => (r.getLong(0), r.getLong(3) / 60000000L)) ==
        Seq((1L, 90L), (2L, 120L)))
      // and both equal the window-based batch operator on the same rows
      val viaOp = graft.ops.Temporal.gaps(
          (b1 ++ b2).toDF("user_id", "event_id", "ts_us")
            .withColumn("ts", timestamp_micros(col("ts_us"))),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          minGapSeconds = 3600L)
        .select(col("user_id"), graft.Det.epochUs(col("gap_start")),
          graft.Det.epochUs(col("gap_end")), col("gap_us"))
        .orderBy("user_id", "gap_start")
        .collect().toSeq
      assert(viaOp == batch)
    } finally q.stop()
  }

  test("S30 retention: late earlier week shifts cohort; stream == batch") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // user 1 first seen in week 3; batch 2 delivers a LATE week-1 event
    // -> cohort must shift 3 -> 1 and the week-3 pair must re-home.
    // user 2: weeks 2 and 4, no shift. Duplicate weeks collapse.
    val b1 = Seq(Streams.WkEv(1L, 3L), Streams.WkEv(2L, 2L),
      Streams.WkEv(2L, 2L))
    val b2 = Seq(Streams.WkEv(1L, 1L), Streams.WkEv(1L, 4L),
      Streams.WkEv(2L, 4L))
    val src = MemoryStream[Streams.WkEv]
    val q = Streams.retentionStream(src.toDS())
      .writeStream.format("memory").queryName("s30sink")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(b1); q.processAllAvailable()
      // mid-stream: user 1's cohort is still 3
      val mid = spark.table("s30sink").as[Streams.UserWeeks]
        .collect().filter(_.user_id == 1L)
      assert(mid.map(_.cohort_wk).toSeq == Seq(3L))
      src.addData(b2); q.processAllAvailable()
      // week sets only grow, so each user's LATEST snapshot is its
      // largest; dedupe the update-mode emissions down to that
      val streamed = spark.table("s30sink").as[Streams.UserWeeks]
        .collect().groupBy(_.user_id)
        .map { case (u, rows) => rows.maxBy(_.weeks.size) }
        .map(r => (r.user_id, r.cohort_wk, r.weeks.toList)).toSet
      val batch = Streams.retentionBatch((b1 ++ b2).toDS())
        .collect().map(r => (r.user_id, r.cohort_wk, r.weeks.toList)).toSet
      assert(streamed == batch)
      assert(batch == Set((1L, 1L, List(1L, 3L, 4L)),
        (2L, 2L, List(2L, 4L))))
    } finally q.stop()
  }

  test("S31 EOD balance: late events rewrite their own day only if later within it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val day1 = 1700006400000000L          // day boundaries in micros
    val day2 = day1 + 86400000000L
    def e(id: Long, dayUs: Long, minInDay: Long, cents: Long) =
      Streams.BalEv(1L, dayUs, dayUs + minInDay * 60000000L, id, cents)
    // batch 1: day1 last = 200 (min 30), day2 last = 500 (min 10)
    val b1 = Seq(e(1, day1, 10, 100), e(2, day1, 30, 200), e(3, day2, 10, 500))
    // batch 2, both LATE into day1: id 4 at min 40 MUST rewrite day1's
    // last (200 -> 250); id 5 at min 20 must NOT (earlier than min 40)
    val b2 = Seq(e(4, day1, 40, 250), e(5, day1, 20, 999))
    val src = MemoryStream[Streams.BalEv]
    val q = Streams.eodStream(src.toDS())
      .writeStream.format("memory").queryName("s31sink")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(b1); q.processAllAvailable()
      src.addData(b2); q.processAllAvailable()
      // day sets only grow and within-day lasts are monotone by
      // (ts, id): the latest snapshot is the one with the max total
      // (days, max ts) — here simply the row from the final batch,
      // identifiable as the snapshot whose day1 entry has event_id 4
      val streamed = spark.table("s31sink").as[Streams.UserDays]
        .collect().map(r => (r.user_id, r.days.toList)).toSet
      val finalSnap = Streams.eodBatch((b1 ++ b2).toDS())
        .collect().map(r => (r.user_id, r.days.toList)).head
      assert(streamed.contains(finalSnap))
      assert(finalSnap._2 == List(
        Streams.DayLast(day1, day1 + 40 * 60000000L, 4L, 250L),
        Streams.DayLast(day2, day2 + 10 * 60000000L, 3L, 500L)))
    } finally q.stop()
  }

  test("S09 ListState last-K: streaming final state == batch run") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // 8 events for user 1 (only the last 3 by (ts, id) must be kept),
    // 2 for user 2 (fewer than K — all kept)
    val evs = (1L to 8L).map(i => Streams.TsEv(1L, i, 1000L * i, 10L * i)) ++
      Seq(Streams.TsEv(2L, 100L, 500L, 7L), Streams.TsEv(2L, 101L, 600L, 11L))
    val batch = Streams.lastKTotals(evs.toDS(), k = 3).collect()
      .map(r => r.user_id -> (r.n_recent, r.recent_cents)).toMap
    // user 1: events 6,7,8 -> 60+70+80; user 2: both -> 18
    assert(batch == Map(1L -> (3L, 210L), 2L -> (2L, 18L)))

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.TsEv]
    val q = Streams.lastKTotals(source.toDS(), k = 3)
      .writeStream.format("memory").queryName("s09sink")
      .outputMode(OutputMode.Update()).start()
    try {
      // out-of-order arrival across batches: the list state must keep the
      // K most-recent by event time, not by arrival order
      val shuffled = Seq(evs(3), evs(7), evs(0), evs(8)) ++
        Seq(evs(1), evs(5), evs(2), evs(9), evs(4), evs(6))
      shuffled.grouped(4).foreach { g => source.addData(g); q.processAllAvailable() }
      val rows = spark.table("s09sink").collect()
      val last = rows.zipWithIndex.groupBy(_._1.getAs[Long]("user_id"))
        .map { case (u, rs) =>
          val r = rs.maxBy(_._2)._1
          u -> (r.getAs[Long]("n_recent"), r.getAs[Long]("recent_cents"))
        }
      assert(last == batch)
    } finally q.stop()
  }

  test("S10 MapState type counts: streaming final state == batch run") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val evs = Seq(
      Streams.TypeEv(1L, "click"), Streams.TypeEv(1L, "view"),
      Streams.TypeEv(1L, "click"), Streams.TypeEv(2L, "purchase"),
      Streams.TypeEv(2L, "click"), Streams.TypeEv(1L, "click"))
    val batch = Streams.typeCounts(evs.toDS()).collect()
      .map(r => (r.user_id, r.event_type) -> r.n).toMap
    assert(batch == Map((1L, "click") -> 3L, (1L, "view") -> 1L,
      (2L, "purchase") -> 1L, (2L, "click") -> 1L))

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.TypeEv]
    val q = Streams.typeCounts(source.toDS())
      .writeStream.format("memory").queryName("s10sink")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(2).foreach { g => source.addData(g); q.processAllAvailable() }
      val rows = spark.table("s10sink").collect()
      val last = rows.zipWithIndex
        .groupBy(r => (r._1.getAs[Long]("user_id"), r._1.getAs[String]("event_type")))
        .map { case (k, rs) => k -> rs.maxBy(_._2)._1.getAs[Long]("n") }
      assert(last == batch)
    } finally q.stop()
  }

  test("S12 incremental earliest-arrival == Pregel batch on the fixture session graph") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // session edges with their user key (Graphs.sessionEdges drops it)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    val edges = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .withColumn("dst", lead(col("event_id"), 1).over(w))
      .withColumn("dst_ts_us", lead(col("ts_us"), 1).over(w))
      .filter(col("dst").isNotNull)
      .select(col("user_id"), col("event_id").as("src"), col("dst"),
        col("ts_us").as("avail_us"), col("dst_ts_us").as("arrive_us"))

    val seedRow = Tables.load(spark, sfDir, "events").orderBy("event_id")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts"))).head()
    val (seedId, seedUser, seedUs) =
      (seedRow.getLong(0), seedRow.getLong(1), seedRow.getLong(2))

    val batchOracle = GraphXOracles.earliestArrival(spark,
        edges.drop("user_id"), seedId, seedUs, maxHops = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the engine's DataFrame frontier agrees with the Pregel twin
    assert(graft.ops.Graphs.earliestArrival(spark, edges.drop("user_id"),
        seedId, seedUs, maxHops = 1000)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == batchOracle)

    // stream the edges in global (avail, src) order over 4 micro-batches —
    // per-user time order is preserved by the global sort
    val evs = edges.orderBy("avail_us", "src").as[Streams.TemporalEdge]
      .collect().toSeq
    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.TemporalEdge]
    val q = Streams.earliestArrivalStream(source.toDS(), seedUser, seedId, seedUs)
      .writeStream.format("memory").queryName("s12sink")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(math.max(1, evs.length / 4)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val streamed = spark.table("s12sink").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batchOracle && streamed.size > 1)
    } finally q.stop()
  }

  test("S11 event-time timers: timer-closed sessions == batch sessionization") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val gapMin = 30L
    // users 1 & 2: two sessions each — [0,10] closed INLINE by the gap in
    // batch 2, [60,70] closed by the TIMER once the watermark passes
    // 70min + gap (driven by the far-future flush events)
    val batch1 = Seq((1L, 1L, 0L), (1L, 2L, 10L), (2L, 3L, 0L), (2L, 4L, 5L))
    val batch2 = Seq((1L, 5L, 60L), (1L, 6L, 70L), (2L, 7L, 61L))
    val flush1 = Seq((99L, 1000L, 10000L))
    val flush2 = Seq((99L, 1001L, 10001L))
    def toIn(rows: Seq[(Long, Long, Long)]): Seq[Ev] =
      rows.map { case (u, id, min) => Ev(id, ts(min), u, "x", 0.0) }

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Ev]
    val q = Streams.timerSessions(
        source.toDF()
          .withWatermark("ts", "0 seconds")
          .select(col("user_id"), col("event_id"), col("ts"))
          .as[Streams.SessInT],
        gapMs = gapMin * 60000L)
      .writeStream.format("memory").queryName("s11sink")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(batch1, batch2, flush1, flush2).foreach { b =>
        source.addData(toIn(b)); q.processAllAvailable()
      }
      val closed = spark.table("s11sink")
        .filter(col("user_id") =!= 99L).collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet

      // batch oracle: the T06 sessionization operator over the same rows
      val all = toIn(batch1 ++ batch2).toDF()
      val oracle = graft.ops.Temporal
        .sessionize(all, "user_id", "ts", "event_id", gapMin * 60)
        .groupBy("user_id", "session_id")
        .agg(min(unix_micros(col("ts"))).as("start_us"),
          max(unix_micros(col("ts"))).as("end_us"),
          count(lit(1)).as("n_events"))
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("start_us"),
          r.getAs[Long]("end_us"), r.getAs[Long]("n_events"))).toSet
      assert(closed == oracle && closed.nonEmpty)
    } finally q.stop()
  }

  test("S28 streaming coalesce: every emission == prefix coalesce, late bridge merges") {
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.GraftPlanBridge.ensureStateStoreCoordinator(spark)
    // user 1: [0,10) and [20,30) land first; the LATE [8,22) bridges
    // them into one [0,30) span of 3 intervals
    val batches = Seq(
      Seq(Streams.HoldEv(1L, 0L, 10L), Streams.HoldEv(1L, 20L, 30L),
        Streams.HoldEv(2L, 5L, 6L)),
      Seq(Streams.HoldEv(1L, 8L, 22L), Streams.HoldEv(2L, 6L, 7L)))
    // batch-mode single pass == full coalesce
    val batchRun = Streams.coalesceSpans(batches.flatten.toDS()).collect()
      .map(s => (s.user_id, s.start_us, s.end_us, s.n_intervals)).toSet
    assert(batchRun == Set((1L, 0L, 30L, 3L), (2L, 5L, 7L, 2L)))

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.HoldEv]
    val q = Streams.coalesceSpans(source.toDS())
      .writeStream.format("memory").queryName("s28sink")
      .outputMode(OutputMode.Update()).start()
    try {
      batches.foreach { b => source.addData(b); q.processAllAvailable() }
      // every batch's emission must equal the coalesce of the prefix —
      // the sink multiset is the union of the per-prefix truths
      val got = spark.table("s28sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .groupBy(identity).view.mapValues(_.length).toMap
      val want = batches.indices.flatMap { i =>
        Streams.coalesceSpans(batches.take(i + 1).flatten.toDS()).collect()
          .map(s => (s.user_id, s.start_us, s.end_us, s.n_intervals))
      }.groupBy(identity).view.mapValues(_.length).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("S27 incremental CC: foreachBatch fold == one-shot CC, replay no-op") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val allEdges = (0 until 60).map(_ =>
      (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(e => e._1 != e._2)
    val oneShot = graft.ops.Graphs
      .connectedComponentsDF(spark, allEdges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    var labels = Seq.empty[(Long, Long)].toDF("id", "component")
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Long)]
    val q = source.toDF().toDF("src", "dst").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        labels = Streams.ccApplyBatch(spark, labels, batch)
        ()
      }.start()
    try {
      allEdges.grouped(20).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
    } finally q.stop()
    def snap() = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val streamed = snap()
    assert(streamed == oneShot && oneShot.nonEmpty)
    // replaying the last slice merges already-merged components: no-op
    labels = Streams.ccApplyBatch(spark, labels,
      allEdges.takeRight(20).toDF("src", "dst"))
    assert(snap() == oneShot)
  }

  test("r20 quotient-CC merge plan gate: the accumulated label table is " +
      "scanned, never shuffled — batch-side probes broadcast") {
    import spark.implicits._
    // labels = the accumulated state (checkpoint-cut, like production);
    // batch = a handful of edges. The r19 form planned two sort-merge
    // joins that shuffled `labels` every batch; the r20 form must show
    // at most ONE ShuffleExchange (the batch-node distinct) and no
    // shuffle anywhere over the labels input.
    val labels = (0L until 500L).map(i => (i, i / 5 * 5)).toDF("id", "component")
      .transform(graft.ops.Checkpoints.cut)
    val batch = Seq((1L, 600L), (600L, 601L), (7L, 12L)).toDF("src", "dst")
    val out = Streams.ccApplyBatchDistributed(spark, labels, batch)
    out.write.format("noop").mode("overwrite").save()
    val shuffles = out.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.length <= 1,
      s"quotient-CC relabel should shuffle only the batch-node distinct, " +
        s"found ${shuffles.length}:\n${shuffles.map(_.nodeName)}")
    // and the fold still computes the same labels as the one-shot merge
    val got = Streams.ccApplyBatch(spark, labels, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = graft.ops.Graphs.connectedComponentsDF(spark,
        labels.select(col("id").as("src"), col("component").as("dst"))
          .unionAll(batch))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("S48 ensemble maintenance: maintained labels == CC over the union " +
      "of the two one-shot pair sets after EVERY batch (uncapped text); " +
      "replay no-op; dual-signal retraction == survivors, idempotent") {
    import graft.ops.{Graphs, SimIndex, Similarity, Text}
    val d = Tables.load(spark, sfDir, "documents")
    val v = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    graft.functions.VecFunctions.ensureRegistered(spark)
    SimIndex.dropIndex(spark, "s48t")
    // one-shot text side: the l02b pipeline (uncapped) over a doc set
    def textPairs(docs: org.apache.spark.sql.DataFrame) = {
      val sh = Text.shingles(docs, 3)
      val sigs = Similarity.minHashSignatures(sh, 32)
      val likely = Similarity.estimateJaccard(
          Similarity.lshCandidates(sigs, 32, 16), sigs)
        .filter(col("est_jaccard") >= 0.42).select("a_id", "b_id")
      Similarity.exactJaccardCompact(sh, likely)
        .filter(col("jaccard") > 0.6)
        .select(col("a_id").as("src"), col("b_id").as("dst"))
    }
    // one-shot vec side: the maintained index's own filtered pair set
    def vecPairs() = SimIndex.ivfPairsFromIndex(spark, "s48t")
      .filter(col("cos_sim") > 0.4)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    def oneShot(docs: org.apache.spark.sql.DataFrame) =
      Graphs.connectedComponentsDF(spark,
          textPairs(docs).unionByName(vecPairs()))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var st = Streams.ensembleInit(spark, d, 3, 32, 16)
    def snap() = st.labels.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def fold(docs: org.apache.spark.sql.DataFrame,
        vecs: org.apache.spark.sql.DataFrame): Unit =
      st = Streams.ensembleApplyBatch(spark, st, docs, vecs,
        3, 32, 16, 0.42, 0.6, maxBucket = 0, "s48t", 0.4, 8, 2, 8)
    (0 to 2).foreach { i =>
      fold(d.filter(col("doc_id") % 3 === i),
        v.filter(col("vec_id") % 3 === i))
      // the maintained ensemble equals the composed one-shot after EVERY
      // batch: uncapped maintained text edges == the l02b pipeline's
      // pair set over the ingested docs (the s45 contract), maintained
      // vec edges == the index's own pair set (the s47 contract), and
      // CC's confluence makes the shared fold equal the union's CC
      assert(snap() == oneShot(d.filter(col("doc_id") % 3 <= i)))
    }
    assert(snap().nonEmpty)
    // replay: a no-op for BOTH signals
    fold(d.filter(col("doc_id") % 3 === 2), v.filter(col("vec_id") % 3 === 2))
    assert(snap() == oneShot(d))
    // dual-signal retraction (GDPR erasure of the ENTITY): both
    // substrates drop the ids, the shared labels re-color once — equal
    // to the one-shot ensemble over the survivors; replay idempotent
    val delD = d.filter(col("doc_id") % 10 === 7)
    val delV = v.filter(col("vec_id") % 10 === 7)
    (1 to 2).foreach { _ =>
      st = Streams.ensembleApplyDelete(spark, st, delD, delV, "s48t")
      assert(snap() == oneShot(d.filter(col("doc_id") % 10 =!= 7)))
    }
    assert(snap().keySet.forall(_ % 10 != 7), "erased ids must drop out")
  }

  test("S46 triangle maintenance: foreachBatch fold == one-shot per-vertex " +
      "counts after EVERY batch; replay no-op; deletes subtract; " +
      "same-batch delete+reinsert nets out") {
    import spark.implicits._
    // random canonical pairs on 14 vertices — dense enough that batches
    // share triangles and several triangles close across batch boundaries
    val rnd = new scala.util.Random(7)
    val allPairs = (0 until 80)
      .map(_ => (rnd.nextInt(14).toLong, rnd.nextInt(14).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct
    def oneShot(pairs: Seq[(Long, Long)]) =
      graft.ops.Graphs.trianglesPerVertex(pairs.toDF("x", "y"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val none = Seq.empty[(Long, Long)].toDF("x", "y")
    var st = Streams.triInit(none)
    def snap() = st.counts.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Long)]
    var seen = Seq.empty[(Long, Long)]
    val q = source.toDF().toDF("x", "y").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        st = Streams.triApplyDelta(st, batch, none)
        ()
      }.start()
    try {
      allPairs.grouped(27).foreach { g =>
        source.addData(g); q.processAllAvailable()
        seen = seen ++ g
        // the maintained counts equal the one-shot kernel after EVERY batch
        assert(snap() == oneShot(seen))
      }
    } finally q.stop()
    assert(snap().values.sum > 0) // the fixture genuinely has triangles
    // replaying the last slice: fresh edges anti-join away — a no-op
    st = Streams.triApplyDelta(st, allPairs.takeRight(27).toDF("x", "y"), none)
    assert(snap() == oneShot(allPairs))
    // retraction: a delete slice subtracts its triangles once per sorted
    // triple; vertices losing their last triangle drop out (oneShot omits
    // them); the replayed delete semi-joins the live set — idempotent
    val dels = allPairs.filter(e => (e._1 + e._2) % 3 == 0)
    val kept = allPairs.filterNot(e => (e._1 + e._2) % 3 == 0)
    assert(dels.nonEmpty && oneShot(kept) != oneShot(allPairs))
    (1 to 2).foreach { _ =>
      st = Streams.triApplyDelta(st, none, dels.toDF("x", "y"))
    }
    assert(snap() == oneShot(kept))
    // a batch deleting and re-inserting the same edges nets to a no-op
    val both = kept.take(5).toDF("x", "y")
    st = Streams.triApplyDelta(st, both, both)
    assert(snap() == oneShot(kept))
  }

  test("S43 restless maintenance: shuffled edge arrival == one-shot; a " +
      "late edge CASCADES through long-arrived edges; replay no-op") {
    import spark.implicits._
    // the g45 hand fixture (parallel edges, stranding, delta boundary)
    val edges = Seq(
      (1L, 2L, 150L, 200L), (1L, 2L, 160L, 200L), (1L, 2L, 400L, 450L),
      (2L, 3L, 210L, 300L), (2L, 6L, 300L, 310L), (1L, 4L, 110L, 120L),
      (4L, 5L, 500L, 510L), (3L, 4L, 310L, 420L))
    val seeds = Seq((1L, 100L)).toDF("id", "arr_us")
    val oneShot = graft.ops.Graphs.restlessEarliestArrival(spark,
        edges.toDF("src", "dst", "dep_us", "arr_us"), seeds,
        deltaUs = 100L, maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    def drive(batches: Seq[Seq[(Long, Long, Long, Long)]])
        : Map[Long, Long] = {
      var labels = seeds.withColumn("dmin", lit(1))
      var live = Seq.empty[(Long, Long, Long, Long)]
        .toDF("src", "dst", "dep_us", "arr_us")
      implicit val sq = spark.sqlContext
      val source = MemoryStream[(Long, Long, Long, Long)]
      val q = source.toDF().toDF("src", "dst", "dep_us", "arr_us")
        .writeStream.foreachBatch {
          (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            val r = Streams.restlessApplyBatch(spark, labels, live, batch,
              deltaUs = 100L, maxHops = 5)
            labels = r._1; live = r._2
            ()
        }.start()
      try batches.foreach { b => source.addData(b); q.processAllAvailable() }
      finally q.stop()
      labels.groupBy("id").agg(min("arr_us").as("a"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }

    // (a) bit-reversal-ish shuffled arrival in 3 batches
    val shuffled = Seq(
      Seq(edges(7), edges(2), edges(4)),
      Seq(edges(0), edges(6), edges(3)),
      Seq(edges(5), edges(1)))
    assert(drive(shuffled) == oneShot)
    // (b) the 1→2 entry edges arrive LAST: everything downstream
    // (2→3, 3→4, 4→5, 2→6 — long arrived) must light up in ONE fold,
    // the full-depth cascade through the live edge set
    val cascade = Seq(edges.drop(2), Seq(edges(0), edges(1)))
    assert(drive(cascade) == oneShot)
    // (c) replay idempotence: feeding the whole set twice changes nothing
    assert(drive(Seq(edges, edges)) == oneShot)
  }

  test("S43b restless retractions: CDC fold (inserts + deletes) == " +
      "one-shot on surviving edges after EVERY batch — severed paths " +
      "drop, longer alternates re-derive with the correct depth budget") {
    import spark.implicits._
    // seed label (2, 10); short chain 2→3→4→6 via eA/eB/eE; longer
    // alternate 2→5→3 via eC/eD. δ=100, maxHops=4: via the short chain
    // vertex 6 is reachable at depth 4; via the alternate, 4 is depth 4
    // and 6 falls OUT of budget — deleting eA must both drop the severed
    // labels and re-derive (3, 4) at the DEEPER alternate depths.
    val seeds = Seq((2L, 10L)).toDF("id", "arr_us")
    val eA = (2L, 3L, 15L, 20L); val eB = (3L, 4L, 25L, 30L)
    val eC = (2L, 5L, 12L, 18L); val eD = (5L, 3L, 19L, 22L)
    val eE = (4L, 6L, 35L, 40L)
    val batches: Seq[Seq[(Long, Long, Long, Long, Int)]] = Seq(
      Seq(eA, eB, eE).map(e => (e._1, e._2, e._3, e._4, 1)),
      Seq(eC, eD).map(e => (e._1, e._2, e._3, e._4, 1)),
      Seq((eA._1, eA._2, eA._3, eA._4, -1)), // sever the short path
      Seq((eC._1, eC._2, eC._3, eC._4, -1)), // sever the alternate too
      Seq((eA._1, eA._2, eA._3, eA._4, 1),   // mixed: re-insert + delete
        (eE._1, eE._2, eE._3, eE._4, -1)))
    var es = Set.empty[(Long, Long, Long, Long)]
    val liveAfter = batches.map { b =>
      es = es ++ b.filter(_._5 > 0).map(r => (r._1, r._2, r._3, r._4)) --
        b.filter(_._5 < 0).map(r => (r._1, r._2, r._3, r._4))
      es.toSeq
    }
    def oneShot(edges: Seq[(Long, Long, Long, Long)]): Map[Long, Long] =
      graft.ops.Graphs.restlessEarliestArrival(spark,
          edges.toDF("src", "dst", "dep_us", "arr_us"), seeds,
          deltaUs = 100L, maxHops = 4)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    var labels = seeds.withColumn("dmin", lit(1))
    var live = Seq.empty[(Long, Long, Long, Long)]
      .toDF("src", "dst", "dep_us", "arr_us")
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Long, Long, Long, Int)]
    val q = source.toDF().toDF("src", "dst", "dep_us", "arr_us", "op")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val ins = batch.filter(col("op") > 0).drop("op")
          val dels = batch.filter(col("op") < 0).drop("op")
          val r = Streams.restlessApplyDelta(spark, labels, live, ins,
            dels, seeds, deltaUs = 100L, maxHops = 4)
          labels = r._1; live = r._2
          snaps += labels.groupBy("id").agg(min("arr_us").as("a"))
            .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
          ()
      }.start()
    try batches.foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()

    liveAfter.zip(snaps).zipWithIndex.foreach { case ((le, got), i) =>
      assert(got == oneShot(le), s"batch $i: maintained != one-shot")
    }
    // after batch 2 the alternate carries 3/4 at DEEPER depths: 6 must
    // be gone (depth budget), not merely re-derived
    assert(snaps(2) == Map(2L -> 10L, 5L -> 18L, 3L -> 22L, 4L -> 30L))
    // batch 3 severs the only remaining path: only the seed survives
    assert(snaps(3) == Map(2L -> 10L))
    // replaying the mixed batch is idempotent (taint re-fires, the
    // refold re-derives the same fix point)
    val r = Streams.restlessApplyDelta(spark, labels, live,
      Seq(eA).toDF("src", "dst", "dep_us", "arr_us"),
      Seq(eE).toDF("src", "dst", "dep_us", "arr_us"),
      seeds, deltaUs = 100L, maxHops = 4)
    assert(r._1.groupBy("id").agg(min("arr_us").as("a"))
      .collect().map(r2 => r2.getLong(0) -> r2.getLong(1)).toMap
      == snaps(4))
  }

  test("S43b upsert batch: same-batch delete + re-insert of ONE temporal " +
      "edge keeps the edge (insert wins, matching ccApplyDelta's " +
      "delete-then-insert ordering) — labels == one-shot over the " +
      "surviving set that still contains it") {
    import spark.implicits._
    val seeds = Seq((2L, 10L)).toDF("id", "arr_us")
    val eA = (2L, 3L, 15L, 20L); val eB = (3L, 4L, 25L, 30L)
    // state: both edges live, full chain labelled (one insert-only fold)
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("src", "dst", "dep_us", "arr_us")
    val (labels0, live0) = Streams.restlessApplyBatch(spark,
      seeds.withColumn("dmin", lit(1)), empty,
      Seq(eA, eB).toDF("src", "dst", "dep_us", "arr_us"),
      deltaUs = 100L, maxHops = 4)
    // upsert-style CDC batch: delete eA AND re-insert eA (same edge)
    val r = Streams.restlessApplyDelta(spark, labels0, live0,
      Seq(eA).toDF("src", "dst", "dep_us", "arr_us"),
      Seq(eA).toDF("src", "dst", "dep_us", "arr_us"),
      seeds, deltaUs = 100L, maxHops = 4)
    // the edge must SURVIVE (delete applies to the pre-batch set, the
    // insert then unions in) and the labels must equal the unchanged
    // one-shot fix point — not the severed Map(2 -> 10)
    assert(r._2.collect().map(x =>
        (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSet
      == Set(eA, eB))
    val got = r._1.groupBy("id").agg(min("arr_us").as("a"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val want = labels0.groupBy("id").agg(min("arr_us").as("a"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == want && got == Map(2L -> 10L, 3L -> 20L, 4L -> 30L))
  }

  test("S44 streaming multimodal intake: decode -> embed -> drift-gated " +
      "IVF inside one foreachBatch — bootstrap, quiet append, drift " +
      "rebuild; maintained == one-shot l53c kernel on the full corpus") {
    import spark.implicits._
    graft.functions.VecFunctions.ensureRegistered(spark)
    Seq("mediaidx_centroids", "mediaidx_vectors", "mediaidx_meta",
        "mediaidx_res_hist", "mediaidx_tombstones").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.ops.Bucketing.dropStaleLocation(spark, t)
    }
    val n = 8 * 8 * 3
    // in-distribution image: a smooth per-content-key pattern (ten ids
    // share each key -> near-dup pairs exist by construction) with 4
    // per-id noise channels; drift image: wide pseudo-random raster
    def raster(id: Long, drifted: Boolean): Array[Byte] =
      (0 until n).map { p =>
        val v =
          if (drifted) ((id * 7 + p * 13) % 256).toInt
          else if (p < 4) (100 + (id * 13 + p * 7) % 40).toInt
          else (100 + ((id % 10) + p) % 40).toInt
        v.toByte
      }.toArray
    def payloads(ids: Seq[Long], drifted: Boolean): Seq[(Long, Array[Byte])] =
      ids.map(id => id -> graft.ops.Media.encodePpm(8, 8, 255,
        raster(id, drifted)))
    val b0 = payloads(0L until 30L, drifted = false)
    val b1 = payloads(100L until 130L, drifted = false)
    val b2 = payloads(200L until 230L, drifted = true)

    val flags = scala.collection.mutable.ArrayBuffer.empty[Boolean]
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Array[Byte])]
    val q = source.toDF().toDF("doc_id", "payload")
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          flags += Streams.mediaIntakeBatch(batch, "mediaidx", k = 4,
            nprobe = 2, buckets = 4)
          ()
      }.start()
    try Seq(b0, b1, b2).foreach { b =>
      source.addData(b); q.processAllAvailable()
    } finally q.stop()

    // bootstrap is not a drift event; the in-distribution batch appends
    // quietly; the wide-random batch fires the retrain
    assert(flags.toSeq == Seq(false, false, true))

    // the final rebuild swapped in a one-shot build over the FULL
    // corpus, so the maintained index's near-dup pairs equal the
    // one-shot l53c kernel (same k/nprobe/seeded kmeans) exactly
    val all = (b0 ++ b1 ++ b2).toDF("vec_id", "payload")
    val emb = graft.ops.Media.decodeImagePixels(
        all.withColumnRenamed("vec_id", "doc_id"), "payload")
      .select(col("doc_id").as("vec_id"),
        transform(col("pixels"), x => (x - 128).cast("float"))
          .as("embedding"))
      .localCheckpoint()
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val maintained = pairSet(
      graft.ops.SimIndex.ivfPairsFromIndex(spark, "mediaidx",
          verifyAgainst = Some(emb))
        .filter(col("cos_sim") > 0.8).select("a_id", "b_id"))
    val oneShot = pairSet(
      graft.ops.Similarity.ivfThresholdPairs(emb, threshold = 0.8,
        nCentroids = 4, nprobe = 2).select("a_id", "b_id"))
    assert(maintained == oneShot && maintained.nonEmpty)
    // and vs the EXACT kernel (l53b): precision 1.0, recall >= 0.9
    val exact = pairSet(
      graft.ops.Similarity.thresholdCosinePairs(emb, threshold = 0.8)
        .select("a_id", "b_id"))
    assert(maintained.subsetOf(exact))
    assert(maintained.size >= (exact.size * 9) / 10,
      s"recall ${maintained.size}/${exact.size} below 0.9")
  }

  test("quotient-CC merge job gate: a batch that merges nothing runs only " +
      "lineage cuts — no count or isEmpty job from Streams") {
    import spark.implicits._
    val labels = (0L until 500L).map(i => (i, i / 5 * 5)).toDF("id", "component")
      .transform(graft.ops.Checkpoints.cut)
    // every edge lies inside an existing component: nothing merges, so
    // the quotient edge list is empty and no CC runs
    val batch = Seq((1L, 2L), (6L, 9L), (14L, 10L)).toDF("src", "dst")
    val (out, jobs) = jobSites(Streams.ccApplyBatch(spark, labels, batch))
    // the local batch is read without a job; then exactly the lookup's
    // broadcast build, the lookup collect and the table cut
    assert(jobs.map(_._1.takeWhile(_ != ':')) == Seq(
      "collect at Streams.scala", "collect at Streams.scala",
      "localCheckpoint at Checkpoints.scala"), jobs)
    assert(jobs(0)._2 == jobs(1)._2 && jobs(1)._2 != jobs(2)._2, jobs)
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 500L).map(i => i -> i / 5 * 5).toMap)
  }

  test("quotient fold paths agree: driver fold == distributed fold == " +
      "union-find, on merging, fresh, looped, repeated and extreme-id " +
      "batches; replays are no-ops") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    // sorted (id, component) rows: a duplicated id would show
    def rows(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    def state(edges: Seq[(Long, Long)]) =
      unionFindLabels(edges).toSeq.toDF("id", "component")
        .transform(graft.ops.Checkpoints.cut)
    def driver(l: DataFrame, b: Seq[(Long, Long)]) =
      Streams.ccApplyBatch(spark, l, b.toDF("src", "dst"))
    def distributed(l: DataFrame, b: Seq[(Long, Long)]) =
      Streams.ccApplyBatchDistributed(spark, l, b.toDF("src", "dst"))
        .transform(graft.ops.Checkpoints.cut)
    def check(prior: Seq[(Long, Long)], batch: Seq[(Long, Long)],
        what: String): Unit = {
      val want = unionFindLabels(prior ++ batch).toSeq.sorted
      val labels = state(prior)
      for ((path, fold) <- Seq("driver" -> (driver _),
          "distributed" -> (distributed _))) {
        val once = fold(labels, batch)
        assert(rows(once) == want, s"$what: $path")
        assert(rows(fold(once, batch)) == want, s"$what: $path replay")
      }
    }
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue, -7L)
    def id(): Long =
      if (rnd.nextInt(8) == 0) extremes(rnd.nextInt(extremes.length))
      else rnd.nextInt(60).toLong - 20
    for (trial <- 1 to 6) {
      val prior = Seq.fill(5 + rnd.nextInt(25))((id(), id()))
      val fresh = Seq.fill(3)((id(), id()))
      // self-loops (one on an id no other edge names), duplicate and
      // reversed edges
      val batch = fresh ++ fresh.take(2) ++ fresh.take(2).map(_.swap) ++
        Seq((prior.head._1, prior.head._1), (1000L + trial, 1000L + trial))
      check(prior, batch ++ Seq.fill(rnd.nextInt(8))((id(), id())),
        s"trial $trial")
    }
    val prior = Seq((1L, 2L), (2L, 3L), (10L, 11L), (Long.MinValue, 12L),
      (Long.MaxValue, 13L))
    // only known ids: inside one component, then merging three
    check(prior, Seq((3L, 1L), (11L, 10L)), "known ids, no merge")
    check(prior, Seq((3L, 11L), (13L, 10L), (12L, 2L)), "known ids, merges")
    // fresh ids alone, and fresh ids linking known components
    check(prior, Seq((50L, 51L), (-50L, 50L)), "fresh ids alone")
    check(prior, Seq((60L, 3L), (60L, Long.MaxValue)), "fresh link")
    // the empty batch, a loops-only batch, and an empty state
    check(prior, Seq.empty, "empty batch")
    check(prior, Seq((1L, 1L), (70L, 70L)), "loops only")
    check(Seq.empty, Seq((5L, 4L), (4L, 3L), (8L, 9L)), "empty state")
  }

  test("maintained CC label table keeps a bounded partition count over " +
      "20 insert folds and 3 retraction folds; labels == union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    def snap(df: DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    var labels = Seq.empty[(Long, Long)].toDF("id", "component")
      .transform(graft.ops.Checkpoints.cut)
    val bound = math.max(labels.rdd.getNumPartitions,
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    var edgeSet = Set.empty[(Long, Long)]
    for (b <- 1 to 20) {
      val batch = Seq.fill(6)((rnd.nextInt(120).toLong,
        rnd.nextInt(120).toLong))
      labels = Streams.ccApplyBatch(spark, labels, batch.toDF("src", "dst"))
      edgeSet ++= batch
      assert(labels.rdd.getNumPartitions <= bound, s"insert fold $b")
    }
    assert(snap(labels) == unionFindLabels(edgeSet))
    var live = edgeSet.toSeq.toDF("src", "dst")
      .transform(graft.ops.Checkpoints.cut)
    for (b <- 1 to 3) {
      val dels = rnd.shuffle(edgeSet.toSeq).take(8)
      val ins = Seq.fill(3)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      val r = Streams.ccApplyDelta(spark, labels, live, ins.toDF("src", "dst"),
        dels.toDF("src", "dst"))
      labels = r._1; live = r._2
      edgeSet = edgeSet -- dels ++ ins.filter(e => e._1 != e._2)
      assert(labels.rdd.getNumPartitions <= bound, s"retraction fold $b")
      assert(snap(labels) == unionFindLabels(edgeSet), s"retraction fold $b")
    }
  }

  /** The delete-fold job gate's fixture: two triangles joined by a
    * bridge, and a far edge; the batch retracts the bridge (a split) and
    * inserts edges that merge the far edge into the first triangle and
    * link 6 to 40. Returns (labels, live, inserts, deletes, wanted labels).
    */
  private def bridgeDelta() = {
    import spark.implicits._
    def sym(pairs: (Long, Long)*): Seq[(Long, Long)] =
      pairs.flatMap(p => Seq(p, p.swap))
    val tri1 = sym((1L, 2L), (2L, 3L), (1L, 3L))
    val tri2 = sym((5L, 6L), (6L, 7L), (5L, 7L))
    val bridge = sym((3L, 5L))
    val far = sym((20L, 21L))
    val before = tri1 ++ tri2 ++ bridge ++ far
    val ins = sym((21L, 2L), (6L, 40L))
    val labels = unionFindLabels(before).toSeq.toDF("id", "component")
      .transform(graft.ops.Checkpoints.cut)
    val live = before.toDF("src", "dst").transform(graft.ops.Checkpoints.cut)
    (labels, live, ins.toDF("src", "dst"), bridge.toDF("src", "dst"),
      unionFindLabels(tri1 ++ tri2 ++ far ++ ins))
  }

  test("delete-fold job gate: a small ccApplyDelta runs its CCs on the " +
      "driver — no star-forest count, no contraction-round cut") {
    val (labels, live, ins, del, want) = bridgeDelta()
    val ((got, _), jobs) = jobSites(Streams.ccApplyDelta(spark, labels, live,
      ins, del))
    // the local batch is read without a job; then, one action each: the
    // label lookup (its broadcast build and collect), the carve's vertex
    // collect (the touched ids' broadcast build, its collect) and edge
    // collect (the vertices' broadcast build, its collect), the label
    // table's cut (with the component moves' broadcast) and the live
    // table's cut (with the deletes' broadcast). No job runs in Graphs:
    // both unions are on the driver.
    val byAction = jobs.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (_, js) => (js.head._1.takeWhile(_ != ':'), js.length) }
    assert(byAction == Seq(
      "collect at Streams.scala" -> 2,
      "collect at Streams.scala" -> 2,
      "collect at Streams.scala" -> 2,
      "localCheckpoint at Checkpoints.scala" -> 2,
      "localCheckpoint at Checkpoints.scala" -> 2), jobs)
    assert(!jobs.exists(_._1.contains(" at Graphs.scala")), jobs)
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("delete-fold plan gate: the driver delta broadcasts only " +
      "driver-built frames, and each carve collect stops before its gather") {
    import org.apache.spark.sql.execution.{InputAdapter, LocalLimitExec,
      LocalTableScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    val (labels, live, ins, del, _) = bridgeDelta()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, SparkPlan)]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(fn -> qe.executedPlan)
      override def onFailure(fn: String, qe: QueryExecution,
          ex: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try jobSites(Streams.ccApplyDelta(spark, labels, live, ins, del))
    finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val all = plans.asScala.toSeq
    def strip(p: SparkPlan): SparkPlan = p match {
      case w: WholeStageCodegenExec => strip(w.child)
      case a: InputAdapter => strip(a.child)
      case other => other
    }
    // every broadcast reads only local frames the driver built from
    // bounded collects: no table-sized frame is ever broadcast
    val bcasts = all.flatMap(_._2.collect { case b: BroadcastExchangeExec => b })
    assert(bcasts.length == 5, all.mkString("\n"))
    assert(bcasts.forall(_.child.collectLeaves()
      .forall(_.isInstanceOf[LocalTableScanExec])), all.mkString("\n"))
    // the two carve collects gather into one partition only after each
    // partition has stopped at the bound (LocalLimit under the exchange)
    val gathers = all.filter(_._1 == "collect").flatMap(_._2.collect {
      case e: ShuffleExchangeExec => strip(e.child) })
    assert(gathers.length == 2, all.mkString("\n"))
    assert(gathers.forall(_.isInstanceOf[LocalLimitExec]), all.mkString("\n"))
  }

  test("distributed delete-fold job gate: ccApplyDeltaDistributed runs its " +
      "CCs on the driver — no star-forest count, no contraction-round cut") {
    val (labels, live, ins, del, want) = bridgeDelta()
    val ((got, _), jobs) = jobSites(Streams.ccApplyDeltaDistributed(spark,
      labels, live, ins, del))
    val sites = jobs.map(_._1.takeWhile(_ != ':'))
    assert(!sites.contains("count at Graphs.scala"), jobs)
    // the recolour's CC is one edge cut and one collect; the insert
    // fold's quotient is unioned on the driver after its lookup collect
    assert(sites.count(_ == "collect at Graphs.scala") == 1, jobs)
    // the cuts are the fold's own six (deletes, live', touched ids,
    // labels', live; the insert fold's table) plus the recolour CC's edge
    // cut: a contraction round or vertex cut would add more
    val cutActions = jobs.filter(_._1.startsWith("localCheckpoint at " +
      "Checkpoints.scala:")).map(_._2).distinct
    assert(cutActions.length == 7, jobs)
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("delta fold paths agree: driver delta == distributed delta == " +
      "union-find, on the labels and the live edge multiset; replays agree") {
    import spark.implicits._
    type Edges = Seq[(Long, Long)]
    val rnd = new scala.util.Random(71)
    def rows(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sorted.toSeq
    def cut(df: DataFrame) = df.transform(graft.ops.Checkpoints.cut)
    val paths: Seq[(String, (DataFrame, DataFrame, DataFrame, DataFrame) =>
        (DataFrame, DataFrame))] = Seq(
      "driver" -> (Streams.ccApplyDelta(spark, _, _, _, _)),
      "distributed" -> (Streams.ccApplyDeltaDistributed(spark, _, _, _, _)))
    // the live multiset after a batch: every copy of a deleted pair goes,
    // then the non-loop inserts union in as a set
    def liveAfter(live: Edges, ins: Edges, del: Edges): Edges = {
      val kept = live.filterNot(del.toSet)
      val added = ins.filter(e => e._1 != e._2)
      (if (added.isEmpty) kept else (kept ++ added).distinct).sorted
    }
    def check(live: Edges, ins: Edges, del: Edges, what: String): Unit = {
      val wantLive = liveAfter(live, ins, del)
      val want = unionFindLabels(wantLive).toSeq.sorted
      val labels = cut(unionFindLabels(live).toSeq.toDF("id", "component"))
      val liveDf = cut(live.toDF("src", "dst"))
      for ((path, fold) <- paths) {
        val (l1, e1) = fold(labels, liveDf, ins.toDF("src", "dst"),
          del.toDF("src", "dst"))
        assert(rows(l1) == want, s"$what: $path labels")
        assert(rows(e1) == wantLive, s"$what: $path live")
        val (l2, e2) = fold(l1, e1, ins.toDF("src", "dst"),
          del.toDF("src", "dst"))
        assert(rows(l2) == want, s"$what: $path replay labels")
        assert(rows(e2) == wantLive, s"$what: $path replay live")
      }
    }
    val extremes = Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue, -7L)
    def id(): Long =
      if (rnd.nextInt(8) == 0) extremes(rnd.nextInt(extremes.length))
      else rnd.nextInt(40).toLong - 10
    for (trial <- 1 to 5) {
      val base = Seq.fill(10 + rnd.nextInt(20))((id(), id()))
      // duplicate, reversed and loop edges in the live state
      val live = base ++ base.take(3) ++ base.take(2).map(_.swap) ++
        Seq((base.head._1, base.head._1), (500L + trial, 500L + trial))
      val del = rnd.shuffle(live).take(1 + rnd.nextInt(6)) ++
        Seq((id(), id()), (base.last._2, base.last._2))
      val ins = Seq.fill(rnd.nextInt(5))((id(), id())) ++
        del.take(1) ++ Seq((id(), id())).map(e => (e._1, e._1))
      check(live, ins, del, s"trial $trial")
    }
    def sym(pairs: (Long, Long)*): Edges = pairs.flatMap(p => Seq(p, p.swap))
    val live = sym((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (Long.MinValue, -5L), (-5L, Long.MaxValue)) ++ Seq((2L, 3L), (4L, 4L))
    check(live, Seq.empty, Seq((1L, 3L), (30L, 31L), (2L, 10L)),
      "absent deletes")
    check(live, sym((2L, 3L)), sym((2L, 3L)), "delete and re-insert")
    check(live, Seq.empty, sym((3L, 4L), (10L, 11L)), "edgeless vertices")
    check(live, Seq((Long.MaxValue, 1L)), Seq((-5L, Long.MaxValue)),
      "extreme ids")
    check(live, Seq.empty, Seq((2L, 3L), (4L, 4L)), "delete only")
    check(live, Seq((4L, 10L), (12L, 12L)), Seq.empty, "insert only")
    check(live, Seq.empty, Seq.empty, "empty batch")
    check(Seq.empty, Seq((1L, 2L)), Seq((1L, 2L), (3L, 4L)), "empty state")
  }

  test("restless insert job gate: restlessApplyBatch sizes nothing by a " +
      "count job — the batch's size comes from its cut") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 150L, 200L), (2L, 3L, 210L, 300L),
      (3L, 4L, 310L, 420L), (1L, 4L, 110L, 120L))
    val seeds = Seq((1L, 100L)).toDF("id", "arr_us")
    val empty = Seq.empty[(Long, Long, Long, Long)]
      .toDF("src", "dst", "dep_us", "arr_us")
    val ((labels, _), jobs) = jobSites(Streams.restlessApplyBatch(spark,
      seeds.withColumn("dmin", lit(1)), empty,
      edges.toDF("src", "dst", "dep_us", "arr_us"), deltaUs = 100L,
      maxHops = 5))
    assert(!jobs.exists(_._1.startsWith("count at Streams.scala")), jobs)
    val want = graft.ops.Graphs.restlessEarliestArrival(spark,
        edges.toDF("src", "dst", "dep_us", "arr_us"), seeds, deltaUs = 100L,
        maxHops = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.groupBy("id").agg(min("arr_us").as("a"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == want)
  }

  test("S27b deltas drawn from the live frame: inserts and deletes that " +
      "are filters of the checkpointed frame the live edges came from") {
    import spark.implicits._
    def cc(edges: Seq[(Long, Long)]) =
      graft.ops.Graphs.connectedComponentsDF(spark, edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // a binary tree on 1..15 in both directions, tagged by a slice: the
    // live state holds slice 0, the batch re-inserts slice 1 and retracts
    // the edges at vertices 2 and 3 (bridges — the tree splits)
    val tree = (2L to 15L).flatMap(v => Seq((v, v / 2), (v / 2, v)))
    val tagged = tree.map { case (a, b) => (a, b, if (a.max(b) >= 12) 1 else 0) }
      .toDF("src", "dst", "slice").transform(graft.ops.Checkpoints.cut)
    val live = tagged.filter(col("slice") === 0).select("src", "dst")
      .transform(graft.ops.Checkpoints.cut)
    val initial = tree.filter { case (a, b) => a.max(b) < 12 }
    val labels = graft.ops.Graphs.connectedComponentsDF(spark,
      initial.toDF("src", "dst")).transform(graft.ops.Checkpoints.cut)
    val inserts = tagged.filter(col("slice") === 1).select("src", "dst")
    val deletes = tagged.filter(col("src").isin(2L, 3L) ||
      col("dst").isin(2L, 3L)).select("src", "dst")
    val (got, got2) = Streams.ccApplyDelta(spark, labels, live, inserts,
      deletes)
    val cut = tree.filter { case (a, b) => Set(a, b).intersect(Set(2L, 3L))
      .isEmpty }
    assert(got.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      cc(cut))
    assert(got2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      cut.toSet)
  }

  test("S27b from a real stream: foreachBatch CDC fold (inserts + deletes) " +
      "== from-scratch CC after every batch") {
    import spark.implicits._
    def cc(edges: Seq[(Long, Long)]) =
      graft.ops.Graphs.connectedComponentsDF(spark, edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sym(pairs: (Long, Long)*): Seq[(Long, Long)] =
      pairs.flatMap(p => Seq(p, p.swap))
    // CDC rows: (src, dst, op) with op = +1 insert / -1 delete
    val tri1 = sym((1L, 2L), (2L, 3L), (1L, 3L))
    val tri2 = sym((5L, 6L), (6L, 7L), (5L, 7L))
    val bridge = sym((3L, 5L))
    val batches: Seq[Seq[(Long, Long, Int)]] = Seq(
      (tri1 ++ bridge).map { case (a, b) => (a, b, 1) },
      tri2.map { case (a, b) => (a, b, 1) },
      bridge.map { case (a, b) => (a, b, -1) },          // SPLIT
      // mixed batch: delete a triangle edge, re-insert the bridge
      sym((5L, 6L)).map { case (a, b) => (a, b, -1) } ++
        bridge.map { case (a, b) => (a, b, 1) })
    val liveAfter = scala.collection.mutable.ArrayBuffer
      .empty[Seq[(Long, Long)]]
    var edgeSet = Set.empty[(Long, Long)]
    batches.foreach { b =>
      edgeSet = edgeSet ++ b.filter(_._3 > 0).map(r => (r._1, r._2)) --
        b.filter(_._3 < 0).map(r => (r._1, r._2))
      liveAfter += edgeSet.toSeq
    }

    var labels = Seq.empty[(Long, Long)].toDF("id", "component")
    var live = Seq.empty[(Long, Long)].toDF("src", "dst")
    val snaps = scala.collection.mutable.ArrayBuffer.empty[Map[Long, Long]]
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, Long, Int)]
    val q = source.toDF().toDF("src", "dst", "op").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val r = Streams.ccApplyDelta(spark, labels, live,
          batch.filter(col("op") > 0).select("src", "dst"),
          batch.filter(col("op") < 0).select("src", "dst"))
        labels = r._1; live = r._2
        snaps += labels.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        ()
      }.start()
    try {
      batches.foreach { b => source.addData(b); q.processAllAvailable() }
    } finally q.stop()
    assert(snaps.size == batches.size)
    snaps.zip(liveAfter).zipWithIndex.foreach { case ((got, edges), i) =>
      assert(got == cc(edges), s"batch $i: maintained != from-scratch")
    }
    // the split batch genuinely split: 1 component -> 2
    assert(snaps(1).values.toSet.size == 1 && snaps(2).values.toSet.size == 2)
  }

  test("S27b CC retractions: a bridge-edge delete SPLITS the component; " +
      "maintained labels == from-scratch CC; insert-only == ccApplyBatch") {
    import spark.implicits._
    def cc(edges: Seq[(Long, Long)]) =
      graft.ops.Graphs.connectedComponentsDF(spark, edges.toDF("src", "dst"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def sym(pairs: (Long, Long)*): Seq[(Long, Long)] =
      pairs.flatMap(p => Seq(p, p.swap))
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")

    // Two triangles joined by a bridge: {1,2,3} -4bridge5- {5,6,7},
    // plus a separate edge {20,21} the deletes never touch.
    val tri1 = sym((1L, 2L), (2L, 3L), (1L, 3L))
    val tri2 = sym((5L, 6L), (6L, 7L), (5L, 7L))
    val bridge = sym((3L, 5L))
    val far = sym((20L, 21L))
    val all = tri1 ++ tri2 ++ bridge ++ far

    var labels = Seq.empty[(Long, Long)].toDF("id", "component")
    var live = none
    // ingest in two insert batches
    Seq(tri1 ++ bridge, tri2 ++ far).foreach { b =>
      val r = Streams.ccApplyDelta(spark, labels, live, b.toDF("src", "dst"),
        none)
      labels = r._1; live = r._2
    }
    def snap() = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(snap() == cc(all)) // insert-only path == one-shot
    // and == the insert-only fold ccApplyBatch produces
    var labelsIns = Seq.empty[(Long, Long)].toDF("id", "component")
    Seq(tri1 ++ bridge, tri2 ++ far).foreach { b =>
      labelsIns = Streams.ccApplyBatch(spark, labelsIns, b.toDF("src", "dst"))
    }
    assert(snap() == labelsIns.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap)

    // DELETE the bridge: the component must SPLIT into the two
    // triangles; {20,21} untouched; equality with from-scratch CC.
    val r1 = Streams.ccApplyDelta(spark, labels, live, none,
      bridge.toDF("src", "dst"))
    labels = r1._1; live = r1._2
    val want = cc(tri1 ++ tri2 ++ far)
    assert(snap() == want)
    assert(snap().values.toSet.size == 3) // three components now
    // DELETE tri2's (5,6) and (6,7): 6 keeps only... nothing — vertex 6
    // loses all edges and must DROP from the labels, exactly as a
    // from-scratch CC over the survivors drops it; 5–7 stays an edge.
    val r2 = Streams.ccApplyDelta(spark, labels, live, none,
      sym((5L, 6L), (6L, 7L)).toDF("src", "dst"))
    labels = r2._1; live = r2._2
    assert(snap() == cc(tri1 ++ sym((5L, 7L)) ++ far))
    assert(!snap().contains(6L))
    // mixed batch: re-insert the bridge AND delete (20,21) in ONE fold
    val r3 = Streams.ccApplyDelta(spark, labels, live,
      bridge.toDF("src", "dst"), far.toDF("src", "dst"))
    labels = r3._1; live = r3._2
    assert(snap() == cc(tri1 ++ sym((5L, 7L)) ++ bridge))
  }

  test("S26 streaming funnel: stream == batch, late earlier view re-qualifies") {
    import spark.implicits._
    // transformWithState requires the RocksDB state store provider (and
    // the coordinator endpoint batch runs don't bootstrap on their own)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.GraftPlanBridge.ensureStateStoreCoordinator(spark)
    val evs = Seq(
      // user 1 arrives out of order: the view lands in batch 2, AFTER
      // the click@12 / purchase@20 it must retroactively qualify
      Streams.FunnelEv(1L, "click", 12L), Streams.FunnelEv(1L, "purchase", 20L),
      // user 3 funnels in batch 1, then a LATE earlier view+click lower
      // the whole chain (c must decrease from 60 to 7)
      Streams.FunnelEv(3L, "view", 50L), Streams.FunnelEv(3L, "click", 60L),
      // batch 2
      Streams.FunnelEv(1L, "view", 10L), Streams.FunnelEv(1L, "click", 5L),
      Streams.FunnelEv(1L, "purchase", 11L),
      Streams.FunnelEv(3L, "view", 5L), Streams.FunnelEv(3L, "click", 7L),
      Streams.FunnelEv(2L, "click", 1L))
    val want = Map(1L -> (10L, 12L, 20L), 2L -> (-1L, -1L, -1L),
      3L -> (5L, 7L, -1L))
    val batch = Streams.funnelStages(evs.toDS()).collect()
      .map(r => r.user_id -> (r.v_us, r.c_us, r.p_us)).toMap
    assert(batch == want)

    implicit val sq = spark.sqlContext
    val source = MemoryStream[Streams.FunnelEv]
    val q = Streams.funnelStages(source.toDS())
      .writeStream.format("memory").queryName("s26sink")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(evs.take(4), evs.drop(4)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val rows = spark.table("s26sink").collect()
      val last = rows.zipWithIndex
        .groupBy(_._1.getAs[Long]("user_id"))
        .map { case (u, rs) =>
          val r = rs.maxBy(_._2)._1
          u -> (r.getAs[Long]("v_us"), r.getAs[Long]("c_us"),
            r.getAs[Long]("p_us"))
        }
      assert(last == want)
      // mid-stream truth after batch 1: user 3's chain sat at (50, 60)
      val mid = rows.zipWithIndex.filter(_._1.getAs[Long]("user_id") == 3L)
        .minBy(_._2)._1
      assert((mid.getAs[Long]("v_us"), mid.getAs[Long]("c_us")) == ((50L, 60L)))
    } finally q.stop()
  }

  test("S25 streaming OHLC: stream (complete) == batch == hand bars") {
    import spark.implicits._
    val streamed = runStream("s25sink", OutputMode.Complete(),
        Streams.ohlcBars, sampleBatches)
      .orderBy("user_id", "day").collect().toSeq
    val batch = Streams.ohlcBars(sampleBatches.flatten.toDF())
      .orderBy("user_id", "day").collect().toSeq
    assert(streamed == batch && batch.nonEmpty)
    // hand check: all sample events are inside one UTC day; user 1 saw
    // values 1.0 (min 0), 2.0 (min 10), 4.0 (min 65) -> open 100,
    // high 400, low 100, close 400; user 2: 3.0 then 5.0.
    val byUser = batch.map(r => r.getLong(0) ->
      (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(byUser(1L) == ((3L, 100L, 400L, 100L, 400L)))
    assert(byUser(2L) == ((2L, 300L, 500L, 300L, 500L)))
  }

  test("S24 streaming WAU: stream (complete) == batch == brute-force distinct") {
    import spark.implicits._
    val streamed = runStream("s24sink", OutputMode.Complete(),
        Streams.rollingDistinctUsers, sampleBatches)
      .orderBy("wday").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toSeq
    val batch = Streams.rollingDistinctUsers(sampleBatches.flatten.toDF())
      .orderBy("wday").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toSeq
    assert(streamed == batch && batch.nonEmpty)
    // brute force: every window-end day's trailing-7-day distinct users
    val dayMs = 86400000L
    val userDays = sampleBatches.flatten
      .map(e => (e.user_id, e.ts.getTime / dayMs * dayMs)).distinct
    val want = userDays.flatMap { case (_, d) => (0 to 6).map(k => d + k * dayMs) }
      .distinct.sorted.map { w =>
        w -> userDays.collect {
          case (u, d) if d <= w && d > w - 7 * dayMs => u
        }.distinct.size.toLong
      }
    assert(batch.map { case (t, n) => t.getTime -> n } == want)
  }

  test("S32 trend partials foreachBatch: == one-shot slope, replay no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = mkEvents((1L to 40L).map(i =>
      (i, i % 13, i % 3, if (i % 2 == 0) "view" else "click",
        (i * 7 % 50).toDouble)): _*)
    val all = evs.toDF()
    val originUs = 1700006400000000L
    def slope(st: DataFrame) = Streams.trendFromPartials(st)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val ref = slope(Streams.trendPartials(all, originUs, 0L))

    val source = MemoryStream[Ev]
    var state = Streams.trendPartials(all.limit(0), originUs, -1L)
    var lastBatch: Option[DataFrame] = None
    var lastId = -1L
    val q = source.toDS().toDF().writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        state = Streams.mergeTrendPartials(state, batch, originUs, id)
          .localCheckpoint()
        lastBatch = Some(batch.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    try evs.grouped(15).foreach { g =>
      source.addData(g.toSeq); q.processAllAvailable()
    } finally q.stop()
    assert(slope(state) == ref && ref.nonEmpty)
    // replaying the last micro-batch replaces its own partials — no-op
    lastBatch.foreach { b =>
      val replayed = Streams.mergeTrendPartials(state, b, originUs, lastId)
      assert(slope(replayed) == ref)
    }
  }

  test("S35 percentile-index foreachBatch: == one-shot index, mid-stream reads, replay no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val evs = Tables.load(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .limit(90).as[Ev].collect().toSeq
    val vc = graft.Det.cents(col("value"))
    val (lo, hi, nb) = (0L, 50000L, 25)

    def oneShot(rows: Seq[Ev]) =
      graft.ops.Temporal.histogramDaily(rows.toDF(), "event_type", "ts",
          vc, lo, hi, nb)
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getLong(3))).toSet
    def maintained(st: DataFrame) =
      Streams.histogramFromPartials(st, "event_type")
        .collect().map(r => (r.getString(0), r.getTimestamp(1),
          r.getLong(2), r.getLong(3))).toSet
    def percentiles(hist: DataFrame) =
      graft.ops.Temporal.percentilesFromHistogram(hist, "event_type",
          Seq(50, 90, 99), lo, hi, nb)
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet

    val source = MemoryStream[Ev]
    var state = Streams.histogramPartials(Seq.empty[Ev].toDF(),
      "event_type", "ts", vc, lo, hi, nb, -1L)
    val snapshots = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var lastBatch: Option[DataFrame] = None
    var lastId = -1L
    val q = source.toDS().toDF().writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        state = Streams.mergeHistogramPartials(state, batch, "event_type",
          "ts", vc, lo, hi, nb, id).localCheckpoint()
        lastBatch = Some(batch.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    val groups = evs.grouped(30).toSeq
    try groups.zipWithIndex.foreach { case (g, _) =>
      source.addData(g); q.processAllAvailable()
      snapshots += state
    } finally q.stop()

    // final maintained partials == one-shot histogram over everything
    assert(maintained(state) == oneShot(evs) && oneShot(evs).nonEmpty)
    // the index answered a query MID-STREAM too: after 2 of 3 batches
    // the maintained read path == the one-shot index over what had
    // arrived by then (both the histogram and the percentile walk)
    val mid = snapshots(1)
    val midRows = groups.take(2).flatten
    assert(maintained(mid) == oneShot(midRows))
    assert(percentiles(Streams.histogramFromPartials(mid, "event_type"))
      == percentiles(midRows.toDF()
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"),
            width_bucket(vc, lit(lo), lit(hi), lit(nb)).as("bucket"))
          .agg(count(lit(1)).as("n"))))
    // replaying the last micro-batch replaces its own partials — no-op
    val replayed = Streams.mergeHistogramPartials(state, lastBatch.get,
      "event_type", "ts", vc, lo, hi, nb, lastId)
    assert(maintained(replayed) == oneShot(evs))
  }

  test("S37 PSI drift: zero on identical periods, flags a shifted feed, maintained == one-shot") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    val rows = Seq(
      // entity a: identical value profile in both periods -> PSI == 0
      ("a", t("2024-01-01 01:00:00"), 10.0), ("a", t("2024-01-02 01:00:00"), 10.0),
      ("a", t("2024-01-01 02:00:00"), 120.0), ("a", t("2024-01-02 02:00:00"), 120.0),
      ("a", t("2024-01-10 01:00:00"), 10.0), ("a", t("2024-01-11 01:00:00"), 10.0),
      ("a", t("2024-01-10 02:00:00"), 120.0), ("a", t("2024-01-11 02:00:00"), 120.0),
      // entity b: all mass moves bucket 1 -> bucket 23;
      // psi = (8/31)·ln 5 = 0.4153 (hand-derived, add-one smoothing)
      ("b", t("2024-01-01 01:00:00"), 10.0), ("b", t("2024-01-02 01:00:00"), 10.0),
      ("b", t("2024-01-01 02:00:00"), 10.0), ("b", t("2024-01-02 02:00:00"), 10.0),
      ("b", t("2024-01-10 01:00:00"), 450.0), ("b", t("2024-01-11 01:00:00"), 450.0),
      ("b", t("2024-01-10 02:00:00"), 450.0), ("b", t("2024-01-11 02:00:00"), 450.0)
    ).toDF("event_type", "ts", "value")
    val vc = graft.Det.cents(col("value"))
    val (lo, hi, nb) = (0L, 50000L, 25)
    def psi(hist: DataFrame) =
      graft.ops.Temporal.psiFromHistogram(hist, "event_type",
          lit("2024-01-01").cast("timestamp"),
          lit("2024-01-05").cast("timestamp"),
          lit("2024-01-08").cast("timestamp"),
          lit("2024-01-12").cast("timestamp"), nb)
        .collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.getDouble(3))).toMap
    val oneShot = psi(graft.ops.Temporal.histogramDaily(
      rows, "event_type", "ts", vc, lo, hi, nb))
    assert(oneShot("a") == ((4L, 4L, 0.0)))       // stable feed
    assert(oneShot("b") == ((4L, 4L, 0.4153)))    // shifted: > 0.25
    // maintained partials (two batches + a replayed batch) read the same
    var state = Streams.histogramPartials(rows.limit(0), "event_type",
      "ts", vc, lo, hi, nb, -1L)
    state = Streams.mergeHistogramPartials(state,
      rows.filter(col("event_type") === "a"), "event_type", "ts", vc,
      lo, hi, nb, 0L)
    state = Streams.mergeHistogramPartials(state,
      rows.filter(col("event_type") === "b"), "event_type", "ts", vc,
      lo, hi, nb, 1L)
    state = Streams.mergeHistogramPartials(state,
      rows.filter(col("event_type") === "b"), "event_type", "ts", vc,
      lo, hi, nb, 1L) // replay: REPLACES, never doubles
    assert(psi(Streams.histogramFromPartials(state, "event_type"))
      == oneShot)
  }

  test("S40 duplicate-shingle index foreachBatch: span cut against the " +
      "maintained set == one-shot l52, replay no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"), col("n_chars")).limit(30)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    def docDF = docs.toSeq.toDF("doc_id", "text", "n_chars")
    // one-shot reference over the same 30 docs
    val oneShotDup = graft.ops.Text.shingleStreamPos(docDF, 20)
      .select("doc_id", "shingle").distinct()
      .groupBy("shingle").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select("shingle")
    val ref = graft.ops.Text.spanCutStats(docDF, oneShotDup)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(ref.exists(_._3 > 0)) // some doc genuinely loses spans

    val source = MemoryStream[(Long, String, Long)]
    var state = Streams.shingleDocPartials(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "text", "n_chars"),
      20, -1L)
    var lastBatch: Option[org.apache.spark.sql.DataFrame] = None
    var lastId = -1L
    val q = source.toDS().toDF("doc_id", "text", "n_chars").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        state = Streams.mergeShingleDocPartials(state, batch, 20, id)
          .localCheckpoint()
        lastBatch = Some(batch.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    try docs.grouped(11).foreach { g =>
      source.addData(g.toSeq); q.processAllAvailable()
    } finally q.stop()

    def cut(st: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.spanCutStats(docDF,
          Streams.dupShinglesFromPartials(st))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    assert(cut(state) == ref)
    // replaying the last micro-batch replaces its own partials — no-op
    val replayed = Streams.mergeShingleDocPartials(state, lastBatch.get,
      20, lastId)
    assert(cut(replayed) == ref)
  }

  test("S41 score-histogram foreachBatch: selection against the " +
      "maintained buckets == one-shot l54, replay no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"), col("text"))
      .limit(40)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    def docDF = docs.toSeq.toDF("doc_id", "source", "n_chars", "text")
    val ref = graft.ops.Text.budgetSelect(docDF, budgetDenom = 5L)
      .collect().map(_.getLong(0)).toSet
    assert(ref.nonEmpty && ref.size < docs.length) // budget binds

    val source = MemoryStream[(Long, String, Long, String)]
    var state = Streams.scoreBucketPartials(
      Seq.empty[(Long, String, Long, String)]
        .toDF("doc_id", "source", "n_chars", "text"), -1L)
    var lastBatch: Option[org.apache.spark.sql.DataFrame] = None
    var lastId = -1L
    val q = source.toDS().toDF("doc_id", "source", "n_chars", "text")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        state = Streams.mergeScoreBucketPartials(state, batch, id)
          .localCheckpoint()
        lastBatch = Some(batch.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    try docs.grouped(15).foreach { g =>
      source.addData(g.toSeq); q.processAllAvailable()
    } finally q.stop()

    def sel(st: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.selectAgainstBuckets(graft.ops.Text.scored(docDF),
          Streams.scoreBucketsFromPartials(st), budgetDenom = 5L)
        .collect().map(_.getLong(0)).toSet
    assert(sel(state) == ref)
    // replaying the last micro-batch replaces its own partials — no-op
    val replayed = Streams.mergeScoreBucketPartials(state, lastBatch.get,
      lastId)
    assert(sel(replayed) == ref)
  }

  test("S38 bigram-LM stats foreachBatch: == one-shot scores, replay no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).limit(30)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val isRef = col("doc_id") % 5 === 0
    def docDF = docs.toSeq.toDF("doc_id", "text")
    // one-shot reference over the same 30 docs
    val ref = graft.ops.Text.bigramXent(docDF, isRef)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toSet

    val source = MemoryStream[(Long, String)]
    var state = Streams.bigramStatPartials(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), isRef, -1L)
    var lastBatch: Option[org.apache.spark.sql.DataFrame] = None
    var lastId = -1L
    val q = source.toDS().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        state = Streams.mergeBigramStatPartials(state, batch, isRef, id)
          .localCheckpoint()
        lastBatch = Some(batch.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    try docs.grouped(11).foreach { g =>
      source.addData(g.toSeq); q.processAllAvailable()
    } finally q.stop()

    def scores(st: org.apache.spark.sql.DataFrame) =
      graft.ops.Text.bigramXentFromStats(docDF,
          Streams.bigramStatsFromPartials(st))
        .collect().map(r => (r.getLong(0), r.getLong(1),
          if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toSet
    assert(scores(state) == ref && ref.nonEmpty)
    // replaying the last micro-batch replaces its own partials — no-op
    val replayed = Streams.mergeBigramStatPartials(state, lastBatch.get,
      isRef, lastId)
    assert(scores(replayed) == ref)
  }

  test("S23 importance stats foreachBatch: == one-shot weights, replay no-op") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        (col("lang") === "en").as("tgt")).limit(30)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    val b = 64
    // one-shot reference over the same 30 docs
    val ref = graft.ops.Text.importanceWeights(
        docs.toSeq.toDF("doc_id", "text", "tgt")
          .withColumn("n_chars", length(col("text"))),
        isTarget = col("tgt"), buckets = b)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

    val source = MemoryStream[(Long, String, Boolean)]
    var state = Streams.importancePartials(
      Seq.empty[(Long, String, Boolean)].toDF("doc_id", "text", "tgt"),
      col("tgt"), b, -1L)
    var lastBatch: Option[org.apache.spark.sql.DataFrame] = None
    var lastId = -1L
    val q = source.toDS().toDF("doc_id", "text", "tgt").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        state = Streams.mergeImportancePartials(state, batch, col("tgt"),
          b, id).localCheckpoint()
        lastBatch = Some(batch.localCheckpoint()); lastId = id
      }
      .outputMode(OutputMode.Append()).start()
    try docs.grouped(11).foreach { g =>
      source.addData(g.toSeq); q.processAllAvailable()
    } finally q.stop()

    def weights(st: org.apache.spark.sql.DataFrame) = {
      val scores = graft.ops.Text.bucketScores(
        Streams.statsFromPartials(st), b)
      graft.ops.Text.weightsFromScores(
          docs.toSeq.toDF("doc_id", "text", "tgt"), col("tgt"), b, scores)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    assert(weights(state) == ref && ref.nonEmpty)
    // replaying the last micro-batch replaces its own partials — no-op
    val replayed = Streams.mergeImportancePartials(state, lastBatch.get,
      col("tgt"), b, lastId)
    assert(weights(replayed) == ref)
  }

  test("S22 space-saving: sketch guarantees vs exact counts on the fixture") {
    import spark.implicits._
    val in = Tables.load(spark, sfDir, "events")
      .select(col("event_type").as("gkey"), col("user_id").as("item"),
        unix_micros(col("ts")).as("ts_us"), col("event_id"))
      .as[Streams.SsEv]
    val exact = in.groupBy("gkey", "item").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val sketch = Streams.heavyHittersBatch(in, m = 8).collect()
    assert(sketch.nonEmpty)
    sketch.foreach { o =>
      val truth = exact((o.gkey, o.item))
      // the space-saving guarantees: never undercounts, and the error
      // bound brackets the true count from below
      assert(o.est >= truth && o.est - o.err <= truth,
        s"${o.gkey}/${o.item}: est=${o.est} err=${o.err} true=$truth")
    }
    // m counters max per key
    sketch.groupBy(_.gkey).values.foreach(g => assert(g.length <= 8))
    // with m >= distinct items, the sketch IS the exact count table
    val wide = Streams.heavyHittersBatch(in, m = 1000).collect()
    assert(wide.forall(o => o.err == 0L && o.est == exact((o.gkey, o.item))))
    assert(wide.length == exact.size)
  }

  test("S22 space-saving: dominant survivor, stream == batch, state carries") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // skewed stream: item 1 dominates (16 of 20 arrivals), the tail
    // churns through m = 2 counters — item 1 must survive tracked, and
    // the sketch never undercounts it (est >= 16)
    val rnd = new scala.util.Random(59)
    val evs = (0 until 20).map { i =>
      val item = if (i % 5 != 2) 1L else 2L + rnd.nextInt(8)
      Streams.SsEv("k", item, 1000L + i, i.toLong)
    }
    val batch = Streams.heavyHittersBatch(evs.toDS(), m = 2).collect()
      .map(o => o.item -> (o.est, o.err)).toMap
    assert(batch.contains(1L) && batch(1L)._1 >= 16L)
    // streaming over 3 micro-batches: the FINAL batch's emissions are
    // the final sketch — compare against the batch fold
    val source = MemoryStream[Streams.SsEv]
    val q = Streams.heavyHittersStream(source.toDS(), m = 2)
      .writeStream.format("memory").queryName("s22sink")
      .outputMode(OutputMode.Append()).start()
    try {
      val parts = evs.grouped(7).toSeq
      var before = 0L
      parts.zipWithIndex.foreach { case (g, i) =>
        before = spark.table("s22sink").count()
        source.addData(g); q.processAllAvailable()
      }
      // rows appended by the LAST batch = the final sketch state
      val all = spark.table("s22sink").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
      val finalRows = all.drop(before.toInt).toSet
      assert(finalRows == batch.map { case (i, (e, r)) => (i, e, r) }.toSet)
    } finally q.stop()
  }

  test("S21 SCD2 foreachBatch maintenance: == direct merges, replay no-op, delete closes") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // snapshot 1 @ t=100: users 1->10, 2->20, 3->30
    // snapshot 2 @ t=200: 1->10 (keep), 2->25 (close+reopen),
    //                     4->40 (insert) — 3 absent (delete-close)
    val s1 = Seq(Scd2Row(1, 10, 100), Scd2Row(2, 20, 100), Scd2Row(3, 30, 100))
    val s2 = Seq(Scd2Row(1, 10, 200), Scd2Row(2, 25, 200), Scd2Row(4, 40, 200))
    def hist0 = graft.ops.Temporal.scd2Init(
      Seq.empty[(Long, Long)].toDF("user_id", "value_cents"), 0L)
    val source = MemoryStream[Scd2Row]
    var state = hist0
    var lastBatch: Option[DataFrame] = None
    val q = source.toDS().writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Scd2Row], _: Long) =>
        state = Streams.scd2ApplyBatch(state, b.toDF(), "user_id",
          Seq("value_cents")).localCheckpoint()
        lastBatch = Some(b.toDF().localCheckpoint())
      }
      .outputMode(OutputMode.Append()).start()
    try Seq(s1, s2).foreach { b => source.addData(b); q.processAllAvailable() }
    finally q.stop()
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        Option(r.get(3)).map(_.asInstanceOf[Long]))).toSet
    val streamed = rows(state)
    // direct double-merge oracle (the t07 path)
    val direct = graft.ops.Temporal.scd2Merge(
      graft.ops.Temporal.scd2Init(
        s1.map(r => (r.user_id, r.value_cents)).toDF("user_id", "value_cents"),
        100L),
      s2.map(r => (r.user_id, r.value_cents)).toDF("user_id", "value_cents"),
      "user_id", Seq("value_cents"), 200L)
    assert(streamed == rows(direct))
    assert(streamed == Set(
      (1L, 10L, 100L, None),          // kept open
      (2L, 20L, 100L, Some(200L)),    // closed at t2
      (2L, 25L, 200L, None),          // reopened
      (3L, 30L, 100L, Some(200L)),    // delete-closed
      (4L, 40L, 200L, None)))         // inserted
    // replaying the last micro-batch is a no-op (merge idempotence)
    val replayed = rows(Streams.scd2ApplyBatch(state, lastBatch.get,
      "user_id", Seq("value_cents")))
    assert(replayed == streamed)
    // a single MULTI-STAMP batch applies stamps in ascending order:
    // the whole feed in one batch equals the two-batch stream
    val oneShot = rows(Streams.scd2ApplyBatch(hist0, (s1 ++ s2).toDF(),
      "user_id", Seq("value_cents")))
    assert(oneShot == streamed)
  }

  test("S20 streaming as-of == batch fold == AsOfJoin operator (fixture)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // Batch oracle: the engine's own as-of operator on the fixture table
    // (the q10 contract query shape — most recent at-or-before click,
    // tie -> max click id).
    val e = Tables.load(spark, sfDir, "events")
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val oracle = graft.ops.AsOfJoin(purchases, clicks, on = Seq("user_id"),
        leftTs = "ts", rightTs = "ts", payload = Seq("click_id"),
        tieBreak = "click_id")
      .select(col("event_id"),
        coalesce(col("click_id_asof"), lit(-1L)).as("click_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    val in = e.filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), col("event_id"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        (col("event_type") === "click").as("is_click"))
      .as[Streams.AsofEv]
    def toMap(hits: Array[Streams.AsofHit]) =
      hits.map(h => h.event_id -> h.click_id.getOrElse(-1L)).toMap
    // batch fold twin
    assert(toMap(Streams.asofBatch(in).collect()) == oracle)
    assert(oracle.nonEmpty && oracle.values.exists(_ >= 0))

    // streaming run: event-time-ordered rows over 4 micro-batches
    val evs = in.orderBy("ts_us", "event_id").collect().toSeq
    val source = MemoryStream[Streams.AsofEv]
    val q = Streams.asofStream(source.toDS())
      .writeStream.format("memory").queryName("s20sink")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(math.max(1, evs.length / 4)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val viaStream = spark.table("s20sink").collect()
        .map(r => r.getLong(0) ->
          Option(r.get(3)).map(_.asInstanceOf[Long]).getOrElse(-1L)).toMap
      assert(viaStream == oracle)
    } finally q.stop()
  }

  test("S20 as-of step: equal-ts click visible, later click never leaks") {
    import spark.implicits._
    // user 7: click id 1 at t=100; purchase id 2 at t=100 (equal ts ->
    // the click IS visible); click id 3 at t=150; purchase id 4 at t=120
    // (after click 1, before click 3 -> must see click 1, NOT 3);
    // purchase id 5 at t=150 (equal ts -> click 3).
    val rows = Seq(
      Streams.AsofEv(7L, 1L, 100L, true),
      Streams.AsofEv(7L, 2L, 100L, false),
      Streams.AsofEv(7L, 4L, 120L, false),
      Streams.AsofEv(7L, 3L, 150L, true),
      Streams.AsofEv(7L, 5L, 150L, false),
      // user 8: purchase with NO prior click -> None
      Streams.AsofEv(8L, 6L, 10L, false))
    val got = Streams.asofBatch(rows.toDS()).collect()
      .map(h => h.event_id -> h.click_id).toMap
    assert(got == Map(2L -> Some(1L), 4L -> Some(1L), 5L -> Some(3L),
      6L -> None))
  }

  test("S20b buffered as-of: click in a LATER batch than its probe still answers it") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def in(u: Long, id: Long, min: Long, click: Boolean) =
      Streams.AsofInT(u, id, ts(min).toInstant, click)
    // user 1: probe 10 @10min arrives in batch 1; the LATE click 2 @5min
    // lands in batch 2 — AFTER its probe — and must still win over click
    // 1 @0. Probe 12 @30 gets its equal-ts click 3 @30 a batch later.
    // user 2: probe 20 @7 with no click ever -> -1. The mid flush pushes
    // the watermark to 25min: probes 10 and 20 are answered THERE while
    // 12 and 11 stay pending and clicks 1,2 fold into the compacted
    // best — exercising both the partial-flush and fold paths.
    val b1 = Seq(in(1, 1, 0, true), in(1, 10, 10, false),
      in(1, 12, 30, false), in(2, 20, 7, false))
    val b2 = Seq(in(1, 2, 5, true), in(1, 3, 30, true))
    val b3 = Seq(in(1, 5, 50, true), in(1, 11, 60, false))
    val mid = Seq(in(99, 1000, 145, true)) // wm -> 145-120 = 25min
    val fin1 = Seq(in(99, 1001, 100000, true))
    val fin2 = Seq(in(99, 1002, 100001, true))
    val source = MemoryStream[Streams.AsofInT]
    val q = Streams.bufferedAsofStream(
        source.toDS().withWatermark("ts", "120 minutes"))
      .writeStream.format("memory").queryName("s20bsink")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, b3, mid, fin1, fin2).foreach { b =>
        source.addData(b); q.processAllAvailable()
      }
      val got = spark.table("s20bsink").collect()
        .map(r => r.getLong(0) ->
          Option(r.get(3)).map(_.asInstanceOf[Long]).getOrElse(-1L)).toMap
      assert(got == Map(10L -> 2L, 12L -> 3L, 11L -> 5L, 20L -> -1L))
      // the eager per-row stream would have answered probe 10 with click
      // 1 (the late click 2 invisible) — the buffered form matches the
      // batch fold over the same rows instead:
      val all = (b1 ++ b2 ++ b3).map(e => Streams.AsofEv(e.user_id,
        e.event_id, e.ts.getEpochSecond * 1000000L + e.ts.getNano / 1000L,
        e.is_click))
      val batch = Streams.asofBatch(all.toDS()).collect()
        .map(h => h.event_id -> h.click_id.getOrElse(-1L)).toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("S20b buffered as-of on a fully SHUFFLED fixture == batch fold") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val e = Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin("click", "purchase"))
    val rows = e.select(col("user_id"), col("event_id"), col("ts"),
        (col("event_type") === "click").as("is_click"))
      .as[Streams.AsofInT].collect()
    // bit-reversal permutation: deterministic and thoroughly out of
    // event-time order, so clicks routinely land batches after the
    // probes they answer
    val shuffled = rows.sortBy(r => java.lang.Long.reverse(r.event_id))
    val maxTs = java.time.Instant.ofEpochMilli(
      rows.map(_.ts.toEpochMilli).max)
    // watermark delay > the fixture's whole span -> nothing is dropped;
    // two far-future flush rows drive every timer
    val flush = Seq(
      Streams.AsofInT(-99L, -1L, maxTs.plusSeconds(40000000L), true),
      Streams.AsofInT(-99L, -2L, maxTs.plusSeconds(40000001L), true))
    val source = MemoryStream[Streams.AsofInT]
    val q = Streams.bufferedAsofStream(
        source.toDS().withWatermark("ts", "365 days"))
      .writeStream.format("memory").queryName("s20bfixsink")
      .outputMode(OutputMode.Append()).start()
    try {
      (shuffled.grouped(math.max(1, shuffled.length / 5)).map(_.toSeq).toSeq
        ++ flush.map(Seq(_))).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val viaStream = spark.table("s20bfixsink")
        .filter(col("user_id") =!= -99L).collect()
        .map(r => r.getLong(0) ->
          Option(r.get(3)).map(_.asInstanceOf[Long]).getOrElse(-1L)).toMap
      val in = e.select(col("user_id"), col("event_id"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          (col("event_type") === "click").as("is_click"))
        .as[Streams.AsofEv]
      val batch = Streams.asofBatch(in).collect()
        .map(h => h.event_id -> h.click_id.getOrElse(-1L)).toMap
      assert(viaStream == batch && batch.nonEmpty
        && batch.values.exists(_ >= 0))
    } finally q.stop()
  }

  test("S29b buffered gaps: a late mid-gap event SPLITS the would-be " +
      "gap; shuffled fixture == batch fold") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val minGap = 30L * 60L * 1000000L // 30 minutes
    def in(id: Long, min: Long, u: Long = 1L) =
      Streams.GapEvT(u, id, ts(min).toInstant)
    // events @0 and @100min look like a 100-min gap; the LATE @50min
    // event lands a batch later (before the watermark passes) and
    // splits it into two 50-min gaps
    val b1 = Seq(in(1, 0), in(3, 100))
    val b2 = Seq(in(2, 50))
    val flush1 = Seq(in(90, 100000, u = -99L))
    val flush2 = Seq(in(91, 100001, u = -99L))
    val src = MemoryStream[Streams.GapEvT]
    val q = Streams.bufferedGapsStream(
        src.toDS().withWatermark("ts", "600 minutes"), minGap)
      .writeStream.format("memory").queryName("s29bhand")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, flush1, flush2).foreach { b =>
        src.addData(b); q.processAllAvailable()
      }
      val got = spark.table("s29bhand").filter(col("user_id") =!= -99L)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      def us(min: Long) = ts(min).getTime * 1000L
      assert(got == Set((us(0), us(50), 50L * 60 * 1000000),
        (us(50), us(100), 50L * 60 * 1000000)))
    } finally q.stop()
    // fixture: shuffled stream == gapsBatch
    val e = Tables.load(spark, sfDir, "events")
    val rows = e.select(col("user_id"), col("event_id"), col("ts"))
      .as[Streams.GapEvT].collect()
    val shuffled = rows.sortBy(r => java.lang.Long.reverse(r.event_id))
    val maxTs = java.time.Instant.ofEpochMilli(
      rows.map(_.ts.toEpochMilli).max)
    val flush = Seq(
      Streams.GapEvT(-99L, -1L, maxTs.plusSeconds(40000000L)),
      Streams.GapEvT(-99L, -2L, maxTs.plusSeconds(40000001L)))
    val dayUs = 86400L * 1000000L
    val fsrc = MemoryStream[Streams.GapEvT]
    val fq = Streams.bufferedGapsStream(
        fsrc.toDS().withWatermark("ts", "365 days"), dayUs)
      .writeStream.format("memory").queryName("s29bfix")
      .outputMode(OutputMode.Append()).start()
    try {
      (shuffled.grouped(math.max(1, shuffled.length / 5)).map(_.toSeq).toSeq
        ++ flush.map(Seq(_))).foreach { g =>
        fsrc.addData(g); fq.processAllAvailable()
      }
      val viaStream = spark.table("s29bfix")
        .filter(col("user_id") =!= -99L).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val inB = e.select(col("user_id"), col("event_id"),
          graft.Det.epochUs(col("ts")).as("ts_us"))
        .as[Streams.GapEv]
      val batch = Streams.gapsBatch(inB, dayUs).collect()
        .map(g => (g.user_id, g.gap_start_us, g.gap_end_us, g.gap_us))
        .toSet
      assert(viaStream == batch && batch.nonEmpty)
    } finally fq.stop()
  }

  test("S33b buffered attribution: late touch lands a batch after the " +
      "purchase and still gets credit") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    def in(id: Long, min: Long, touch: Boolean, buy: Boolean, ch: String,
        cents: Long = 0L, u: Long = 1L) =
      Streams.AttribEvT(u, id, ts(min).toInstant, touch, buy, ch, cents)
    // batch 1: purchase @20min (plus an old view @0); batch 2 delivers
    // the LATE click @10min — before the watermark passes the purchase,
    // so the buffered form credits the click where the eager stream
    // would have said view
    val b1 = Seq(in(1, 0, true, false, "view"),
      in(10, 20, false, true, "purchase", 500L))
    val b2 = Seq(in(2, 10, true, false, "click"))
    val flush1 = Seq(in(90, 100000, true, false, "view", u = -99L))
    val flush2 = Seq(in(91, 100001, true, false, "view", u = -99L))
    val src = MemoryStream[Streams.AttribEvT]
    val q = Streams.bufferedAttributionStream(
        src.toDS().withWatermark("ts", "600 minutes"))
      .writeStream.format("memory").queryName("s33bhand")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, flush1, flush2).foreach { b =>
        src.addData(b); q.processAllAvailable()
      }
      val got = spark.table("s33bhand").filter(col("user_id") =!= -99L)
        .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(3)))
      assert(got.toSeq == Seq((10L, "click", 500L)))
    } finally q.stop()
  }

  test("S33b buffered attribution on a fully SHUFFLED fixture == batch fold") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val e = Tables.load(spark, sfDir, "events")
    val rows = e.select(col("user_id"), col("event_id"), col("ts"),
        col("event_type").isin("click", "view").as("is_touch"),
        (col("event_type") === "purchase").as("is_purchase"),
        col("event_type").as("channel"),
        expr("CAST(round(value*100) AS BIGINT)").as("cents"))
      .as[Streams.AttribEvT].collect()
    val shuffled = rows.sortBy(r => java.lang.Long.reverse(r.event_id))
    val maxTs = java.time.Instant.ofEpochMilli(
      rows.map(_.ts.toEpochMilli).max)
    val flush = Seq(
      Streams.AttribEvT(-99L, -1L, maxTs.plusSeconds(40000000L), true,
        false, "view", 0L),
      Streams.AttribEvT(-99L, -2L, maxTs.plusSeconds(40000001L), true,
        false, "view", 0L))
    val src = MemoryStream[Streams.AttribEvT]
    val q = Streams.bufferedAttributionStream(
        src.toDS().withWatermark("ts", "365 days"))
      .writeStream.format("memory").queryName("s33bfix")
      .outputMode(OutputMode.Append()).start()
    try {
      (shuffled.grouped(math.max(1, shuffled.length / 5)).map(_.toSeq).toSeq
        ++ flush.map(Seq(_))).foreach { g =>
        src.addData(g); q.processAllAvailable()
      }
      val viaStream = spark.table("s33bfix")
        .filter(col("user_id") =!= -99L).collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
      val in = e.select(col("user_id"), col("event_id"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_type").isin("click", "view").as("is_touch"),
          (col("event_type") === "purchase").as("is_purchase"),
          col("event_type").as("channel"),
          expr("CAST(round(value*100) AS BIGINT)").as("cents"))
        .as[Streams.AttribEv]
      val batch = Streams.attributionBatch(in).collect()
        .map(a => a.event_id -> ((a.channel, a.cents))).toMap
      assert(viaStream == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("S33 streaming attribution == batch fold (fixture, 4 micro-batches)") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val e = Tables.load(spark, sfDir, "events")
    val in = e.select(col("user_id"), col("event_id"),
      graft.Det.epochUs(col("ts")).as("ts_us"),
      col("event_type").isin("click", "view").as("is_touch"),
      (col("event_type") === "purchase").as("is_purchase"),
      col("event_type").as("channel"),
      expr("CAST(round(value*100) AS BIGINT)").as("cents"))
      .as[Streams.AttribEv]
    val batch = Streams.attributionBatch(in).collect()
      .map(a => a.event_id -> ((a.channel, a.cents))).toMap
    assert(batch.nonEmpty && batch.values.exists(_._1 != "direct"))

    val evs = in.orderBy("ts_us", "event_id").collect().toSeq
    val source = MemoryStream[Streams.AttribEv]
    val q = Streams.attributionStream(source.toDS())
      .writeStream.format("memory").queryName("s33sink")
      .outputMode(OutputMode.Append()).start()
    try {
      evs.grouped(math.max(1, evs.length / 4)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val viaStream = spark.table("s33sink").collect()
        .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
      assert(viaStream == batch)
    } finally q.stop()
  }

  test("S33 attribution step: strictly-earlier tie rule + 7-day lookback") {
    import spark.implicits._
    val day = 86400000000L
    def touch(id: Long, ts: Long, ch: String) =
      Streams.AttribEv(7L, id, ts, true, false, ch, 0L)
    def buy(id: Long, ts: Long, cents: Long) =
      Streams.AttribEv(7L, id, ts, false, true, "purchase", cents)
    val rows = Seq(
      touch(1L, 100L, "click"),
      // equal ts, LARGER id than the purchase -> must NOT be credited
      touch(3L, 200L, "view"),
      buy(2L, 200L, 10L), // sees click 1 (strictly earlier), not view 3
      buy(4L, 300L, 20L), // now view 3 is strictly earlier -> view
      // signup is neither touch nor purchase: ignored entirely
      Streams.AttribEv(7L, 5L, 400L, false, false, "signup", 0L),
      buy(6L, 400L + 8 * day, 30L), // last touch beyond 7d -> direct
      buy(7L, 50L, 40L)) // user 8-style no-prior case, same user early ts
    val got = Streams.attributionBatch(rows.toDS()).collect()
      .map(a => a.event_id -> a.channel).toMap
    assert(got == Map(2L -> "click", 4L -> "view", 6L -> "direct",
      7L -> "direct"))
  }

  test("S36 streaming patterns == batch fold (fixture, 5 micro-batches, WITHIN)") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    val pat = Seq("view", "click", "view", "purchase")
    val within = Some(7L * 86400L * 1000000L)
    val in = Tables.load(spark, sfDir, "events")
      .select(col("user_id").as("entity"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        col("event_id").as("tie"), col("event_type").as("sym"))
      .as[Patterns.PatEv]
    val batch = Patterns.matchCounts(Tables.load(spark, sfDir, "events"),
        "user_id", "ts", "event_id", "event_type", pat,
        contiguous = false, withinUs = within)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(batch.values.exists(_._2 > 0))
    val evs = in.orderBy("ts_us", "tie").collect().toSeq
    val source = MemoryStream[Patterns.PatEv]
    val q = Patterns.matchCountsStream(source.toDS(), pat,
        contiguous = false, withinUs = within)
      .writeStream.format("memory").queryName("s36sink")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(math.max(1, evs.length / 5)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      // each batch emits a running snapshot for its touched entities;
      // the FINAL snapshot (max n_events) is the entity's truth
      val last = spark.table("s36sink").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
      assert(last == batch)
    } finally q.stop()
  }

  test("S36 contiguous ring + quantified anchor survive a batch boundary") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    def pe(ts: Long, tie: Long, sym: String) = Patterns.PatEv(1L, ts, tie, sym)
    // contiguous a,a,b WITHIN 10: run [a@0, a@5, b@9] spans the ring —
    // split so the batch boundary falls MID-RUN (a@0,a@5 | b@9 ...):
    // the run start ts(0) must come from the state-carried ring. The
    // second run [a@100, a@200, b@205] spans 105 > 10 -> gated out.
    val evs = Seq(pe(0L, 1L, "a"), pe(5L, 2L, "a"),
      pe(9L, 3L, "b"), pe(100L, 4L, "a"),
      pe(200L, 5L, "a"), pe(205L, 6L, "b"))
    val src = MemoryStream[Patterns.PatEv]
    val q = Patterns.matchCountsStream(src.toDS(), Seq("a", "a", "b"),
        contiguous = true, withinUs = Some(10L))
      .writeStream.format("memory").queryName("s36ring")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(evs.take(2), evs.slice(2, 4), evs.drop(4)).foreach { g =>
        src.addData(g); q.processAllAvailable()
      }
      val last = spark.table("s36ring").collect()
        .map(r => (r.getLong(1), r.getLong(2))).maxBy(_._1)
      assert(last == ((6L, 1L)))
      // == the batch fold on the same rows (shared boundedStep)
      val b = Patterns.matchCounts(
          evs.toDF("entity", "ts_us", "tie", "sym")
            .select(col("entity"), timestamp_micros(col("ts_us")).as("ts"),
              col("tie"), col("sym")),
          "entity", "ts", "tie", "sym", Seq("a", "a", "b"),
          contiguous = true, withinUs = Some(10L))
        .collect().map(r => (r.getLong(1), r.getLong(2))).head
      assert(b == last)
    } finally q.stop()
    // quantified (a, b+, c) WITHIN 50: anchor a@0 stamped in batch 1,
    // lazy-final c@40 lands two batches later -> counted (40 ≤ 50);
    // second attempt anchored a@100 with c@300 -> gated (200 > 50).
    val qevs = Seq(pe(0L, 1L, "a"), pe(10L, 2L, "b"), pe(20L, 3L, "b"),
      pe(40L, 4L, "c"), pe(100L, 5L, "a"), pe(110L, 6L, "b"),
      pe(300L, 7L, "c"))
    val src2 = MemoryStream[Patterns.PatEv]
    val q2 = Patterns.quantifiedCountsStream(src2.toDS(),
        Seq(("a", 1, 1), ("b", 1, Int.MaxValue), ("c", 1, 1)),
        withinUs = Some(50L))
      .writeStream.format("memory").queryName("s36quant")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(qevs.take(1), qevs.slice(1, 3), qevs.drop(3)).foreach { g =>
        src2.addData(g); q2.processAllAvailable()
      }
      val last2 = spark.table("s36quant").collect()
        .map(r => (r.getLong(1), r.getLong(2))).maxBy(_._1)
      assert(last2 == ((7L, 1L)))
    } finally q2.stop()
  }

  test("S39 per-match stream: boundary-spanning match emits once, " +
      "rows == q59 fold (fixture)") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    val stages = Seq((Set("a"), 1, 1), (Set("b"), 1, Int.MaxValue),
      (Set("c"), 1, 1))
    // hand case: anchor lands in batch 1, completion in batch 2 — the
    // match emits exactly once, in batch 2, with the batch-1 anchor
    val evs = Seq(
      Patterns.PatEv(1L, 100L, 1L, "a"), Patterns.PatEv(1L, 200L, 2L, "b"),
      Patterns.PatEv(1L, 300L, 3L, "b"), Patterns.PatEv(1L, 400L, 4L, "c"))
    val src = MemoryStream[Patterns.PatEv]
    val q = Patterns.quantifiedMatchesStream(src.toDS(), stages)
      .writeStream.format("memory").queryName("s39hand")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(evs.take(2)); q.processAllAvailable()
      assert(spark.table("s39hand").count() == 0) // nothing completed yet
      src.addData(evs.drop(2)); q.processAllAvailable()
      val rows = spark.table("s39hand").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.toSeq == Seq((1L, 1L, 100L, 400L)))
    } finally q.stop()
    // fixture: streamed rows == the batch q59 fold, any batching
    val in = Tables.load(spark, sfDir, "events")
      .select(col("user_id").as("entity"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        col("event_id").as("tie"), col("event_type").as("sym"))
      .as[Patterns.PatEv]
    val fstages = Seq((Set("view"), 1, 1), (Set("click"), 1, Int.MaxValue),
      (Set("purchase"), 1, 1))
    val bound = Some(86400L * 1000000L)
    val batch = Patterns.quantifiedMatchesAlt(
        Tables.load(spark, sfDir, "events"),
        "user_id", "ts", "event_id", "event_type", fstages, bound)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val fevs = in.orderBy("ts_us", "tie").collect().toSeq
    val fsrc = MemoryStream[Patterns.PatEv]
    val fq = Patterns.quantifiedMatchesStream(fsrc.toDS(), fstages, bound)
      .writeStream.format("memory").queryName("s39fix")
      .outputMode(OutputMode.Append()).start()
    try {
      fevs.grouped(math.max(1, fevs.length / 5)).foreach { g =>
        fsrc.addData(g); fq.processAllAvailable()
      }
      val streamed = spark.table("s39fix").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally fq.stop()
  }

  test("S39c live MEASURES: a boundary-spanning match keeps its " +
      "accumulators across micro-batches; fixture rows == q59c fold") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    val stages = Seq((Set("a"), 1, 1), (Set("b"), 1, Int.MaxValue),
      (Set("c"), 1, 1))
    // anchor + first click in batch 1, completion in batch 2: the
    // emitted row must carry ALL FOUR events' measures and batch-1's
    // stage timestamps — the accumulator residue crossed the boundary
    val evs = Seq(
      Patterns.PatEvM(1L, 100L, 1L, "a", 10L),
      Patterns.PatEvM(1L, 200L, 2L, "b", 20L),
      Patterns.PatEvM(1L, 300L, 3L, "b", 30L),
      Patterns.PatEvM(1L, 400L, 4L, "c", 40L))
    val src = MemoryStream[Patterns.PatEvM]
    val q = Patterns.quantifiedMatchMeasuresStream(src.toDS(), stages)
      .writeStream.format("memory").queryName("s39cm")
      .outputMode(OutputMode.Append()).start()
    try {
      src.addData(evs.take(2)); q.processAllAvailable()
      assert(spark.table("s39cm").count() == 0)
      src.addData(evs.drop(2)); q.processAllAvailable()
      val rows = spark.table("s39cm").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getSeq[Long](6).toList))
      assert(rows.toSeq == Seq(
        (1L, 1L, 100L, 400L, 4L, 100L, List(100L, 200L, 400L))))
    } finally q.stop()
    // fixture: streamed measures rows == the batch q59c fold, any
    // batching
    val in = Tables.load(spark, sfDir, "events")
      .select(col("user_id").as("entity"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        col("event_id").as("tie"), col("event_type").as("sym"),
        round(col("value") * 100).cast("long").as("cents"))
      .as[Patterns.PatEvM]
    val fstages = Seq((Set("view"), 1, 1), (Set("click"), 1, Int.MaxValue),
      (Set("purchase"), 1, 1))
    val bound = Some(86400L * 1000000L)
    val batch = Patterns.quantifiedMatchMeasuresAlt(
        Tables.load(spark, sfDir, "events"),
        "user_id", "ts", "event_id", "event_type", "value", fstages, bound)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getSeq[Long](6).toList))
      .toSet
    val fevs = in.orderBy("ts_us", "tie").collect().toSeq
    val fsrc = MemoryStream[Patterns.PatEvM]
    val fq = Patterns.quantifiedMatchMeasuresStream(fsrc.toDS(), fstages,
        bound)
      .writeStream.format("memory").queryName("s39cfix")
      .outputMode(OutputMode.Append()).start()
    try {
      fevs.grouped(math.max(1, fevs.length / 5)).foreach { g =>
        fsrc.addData(g); fq.processAllAvailable()
      }
      val streamed = spark.table("s39cfix").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getSeq[Long](6).toList))
        .toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally fq.stop()
  }

  test("S36 unbuffered guard: a late row is DROPPED (counted), not folded") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    val stages = Seq(("a", 1, 1), ("b", 1, Int.MaxValue), ("c", 1, 1))
    val src = MemoryStream[Patterns.PatEv]
    val q = Patterns.quantifiedCountsStream(src.toDS(), stages)
      .writeStream.format("memory").queryName("s36guard")
      .outputMode(OutputMode.Update()).start()
    try {
      src.addData(Seq(Patterns.PatEv(1L, 100L, 1L, "a"),
        Patterns.PatEv(1L, 200L, 2L, "b")))
      q.processAllAvailable()
      // a@150 arrives AFTER b@200 was folded: folding it at arrival
      // position would re-anchor and kill the match (final (4, 0));
      // the guard drops it instead, so c@300 completes: (3, 1)
      src.addData(Seq(Patterns.PatEv(1L, 150L, 3L, "a"),
        Patterns.PatEv(1L, 300L, 4L, "c")))
      q.processAllAvailable()
      val last = spark.table("s36guard").collect()
        .map(r => (r.getLong(1), r.getLong(2))).maxBy(_._1)
      assert(last == ((3L, 1L)))
    } finally q.stop()
  }

  test("S36f reanchored stream == batch fold; the live anchor array " +
      "crosses a batch boundary") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    val pat = Seq("view", "click")
    val w = 60L * 1000000L
    // the ADVICE case split mid-stream: the re-anchoring view@300s is
    // folded in batch 1, the click@330s lands in batch 2 — the anchor
    // array in GroupState must carry the FRESH anchor across
    def pe(sec: Long, tie: Long, sym: String) =
      Patterns.PatEv(1L, sec * 1000000L, tie, sym)
    val evs = Seq(pe(0, 1, "view"), pe(300, 2, "view"), pe(330, 3, "click"))
    val src = MemoryStream[Patterns.PatEv]
    val q = Patterns.reanchoredCountsStream(src.toDS(), pat, w)
      .writeStream.format("memory").queryName("s36fhand")
      .outputMode(OutputMode.Update()).start()
    try {
      Seq(evs.take(2), evs.drop(2)).foreach { g =>
        src.addData(g); q.processAllAvailable()
      }
      val last = spark.table("s36fhand").collect()
        .map(r => (r.getLong(1), r.getLong(2))).maxBy(_._1)
      assert(last == ((3L, 1L)))
    } finally q.stop()
    // fixture: final snapshots == the batch reanchoredCounts fold
    val fpat = Seq("view", "click", "view", "purchase")
    val fw = 7L * 86400L * 1000000L
    val batch = Patterns.reanchoredCounts(
        Tables.load(spark, sfDir, "events"),
        "user_id", "ts", "event_id", "event_type", fpat, fw)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val in = Tables.load(spark, sfDir, "events")
      .select(col("user_id").as("entity"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        col("event_id").as("tie"), col("event_type").as("sym"))
      .as[Patterns.PatEv]
    val fevs = in.orderBy("ts_us", "tie").collect().toSeq
    val fsrc = MemoryStream[Patterns.PatEv]
    val fq = Patterns.reanchoredCountsStream(fsrc.toDS(), fpat, fw)
      .writeStream.format("memory").queryName("s36ffix")
      .outputMode(OutputMode.Update()).start()
    try {
      fevs.grouped(math.max(1, fevs.length / 5)).foreach { g =>
        fsrc.addData(g); fq.processAllAvailable()
      }
      val last = spark.table("s36ffix").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
      assert(last == batch && batch.values.exists(_._2 > 0))
    } finally fq.stop()
  }

  test("S39b buffered patterns: late anchor lands a batch after the " +
      "purchase and still matches") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stages = Seq((Set("a"), 1, 1), (Set("b"), 1, Int.MaxValue),
      (Set("c"), 1, 1))
    def in(min: Long, tie: Long, sym: String, ent: Long = 1L) =
      Patterns.PatEvT(ent, ts(min).toInstant, tie, sym)
    // the anchor a@0 arrives LAST — an unbuffered fold would have
    // killed the b@10..c@20 suffix; the buffer replays event-time order
    val b1 = Seq(in(10, 2, "b"), in(20, 3, "c"))
    val b2 = Seq(in(0, 1, "a"))
    val flush1 = Seq(in(1000000, 90, "a", ent = -99L))
    val flush2 = Seq(in(1000001, 91, "a", ent = -99L))
    val src = MemoryStream[Patterns.PatEvT]
    val q = Patterns.bufferedQuantifiedMatchesStream(
        src.toDS().withWatermark("ts", "300 minutes"), stages)
      .writeStream.format("memory").queryName("s39bhand")
      .outputMode(OutputMode.Append()).start()
    try {
      Seq(b1, b2, flush1, flush2).foreach { b =>
        src.addData(b); q.processAllAvailable()
      }
      val rows = spark.table("s39bhand").filter(col("entity") =!= -99L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      def us(t: java.sql.Timestamp) = t.getTime * 1000L
      val t0us = us(ts(0))
      val t20us = us(ts(20))
      assert(rows.toSeq == Seq((1L, 1L, t0us, t20us)))
    } finally q.stop()
  }

  test("S36c/S39b buffered patterns on a fully SHUFFLED fixture == " +
      "batch fold (the S34 gate, applied to patterns)") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stages = Seq((Set("view"), 1, 1), (Set("click"), 1, Int.MaxValue),
      (Set("purchase"), 1, 1))
    val bound = Some(86400L * 1000000L)
    val e = Tables.load(spark, sfDir, "events")
    val rows = e.select(col("user_id").as("entity"), col("ts"),
        col("event_id").as("tie"), col("event_type").as("sym"))
      .as[Patterns.PatEvT].collect()
    // bit-reversal permutation: deterministic and thoroughly out of
    // event-time order across batches
    val shuffled = rows.sortBy(r => java.lang.Long.reverse(r.tie))
    val maxTs = java.time.Instant.ofEpochMilli(
      rows.map(_.ts.toEpochMilli).max)
    val flush = Seq(
      Patterns.PatEvT(-99L, maxTs.plusSeconds(40000000L), 1L, "view"),
      Patterns.PatEvT(-99L, maxTs.plusSeconds(40000001L), 2L, "view"))
    // matches surface
    val src = MemoryStream[Patterns.PatEvT]
    val q = Patterns.bufferedQuantifiedMatchesStream(
        src.toDS().withWatermark("ts", "365 days"), stages, bound)
      .writeStream.format("memory").queryName("s39bfix")
      .outputMode(OutputMode.Append()).start()
    val batchMatches = Patterns.quantifiedMatchesAlt(e,
        "user_id", "ts", "event_id", "event_type", stages, bound)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    try {
      (shuffled.grouped(math.max(1, shuffled.length / 5)).map(_.toSeq).toSeq
        ++ flush.map(Seq(_))).foreach { g =>
        src.addData(g); q.processAllAvailable()
      }
      val streamed = spark.table("s39bfix").filter(col("entity") =!= -99L)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed == batchMatches && batchMatches.nonEmpty)
    } finally q.stop()
    // counts surface: final snapshot per entity == the batch fold
    val src2 = MemoryStream[Patterns.PatEvT]
    val q2 = Patterns.bufferedQuantifiedCountsStream(
        src2.toDS().withWatermark("ts", "365 days"), stages, bound)
      .writeStream.format("memory").queryName("s36cfix")
      .outputMode(OutputMode.Update()).start()
    val batchCounts = Patterns.quantifiedCountsAlt(e,
        "user_id", "ts", "event_id", "event_type", stages, bound)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    try {
      (shuffled.grouped(math.max(1, shuffled.length / 5)).map(_.toSeq).toSeq
        ++ flush.map(Seq(_))).foreach { g =>
        src2.addData(g); q2.processAllAvailable()
      }
      val streamed = spark.table("s36cfix").filter(col("entity") =!= -99L)
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
      assert(streamed == batchCounts && batchCounts.nonEmpty)
    } finally q2.stop()
  }

  test("S36b quantified stream == batch fold (fixture)") {
    import spark.implicits._
    import graft.ops.Patterns
    implicit val sq = spark.sqlContext
    val stages = Seq(("view", 1, 1), ("click", 1, Int.MaxValue),
      ("purchase", 1, 1))
    val in = Tables.load(spark, sfDir, "events")
      .select(col("user_id").as("entity"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        col("event_id").as("tie"), col("event_type").as("sym"))
      .as[Patterns.PatEv]
    val batch = Patterns.quantifiedCounts(
        Tables.load(spark, sfDir, "events"),
        "user_id", "ts", "event_id", "event_type", stages)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val evs = in.orderBy("ts_us", "tie").collect().toSeq
    val source = MemoryStream[Patterns.PatEv]
    val q = Patterns.quantifiedCountsStream(source.toDS(), stages)
      .writeStream.format("memory").queryName("s36bsink")
      .outputMode(OutputMode.Update()).start()
    try {
      evs.grouped(math.max(1, evs.length / 4)).foreach { g =>
        source.addData(g); q.processAllAvailable()
      }
      val last = spark.table("s36bsink").collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).maxBy(_._1) }
      assert(last == batch)
    } finally q.stop()
  }

  // ---- S45: maintained near-dup clusters (r19) ----

  /** One-shot l02-style cluster pipeline over `corpus`: LSH candidates
    * (capped when maxBucket > 0), estimate prefilter, exact re-check,
    * connected components — the reference the maintained fold is held
    * to (l02g's parameters).
    */
  private def oneShotClusters(corpus: DataFrame,
      maxBucket: Int): Map[Long, Long] = {
    import graft.ops.{Graphs, Similarity, Text}
    graft.functions.VecFunctions.ensureRegistered(spark)
    val sh = Text.shingles(corpus, 3).cache()
    val sigs = Similarity.minHashSignatures(sh, 32).cache()
    val likely = Similarity.estimateJaccard(
        Similarity.lshCandidates(sigs, 32, 16, maxBucket), sigs)
      .filter(col("est_jaccard") >= 0.42).select("a_id", "b_id")
    val pairs = Similarity.exactJaccardCompact(sh, likely)
      .filter(col("jaccard") > 0.6)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val m = Graphs.connectedComponentsDF(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sh.unpersist(); sigs.unpersist()
    m
  }

  private def snap45(st: Streams.NearDupState): Map[Long, Long] =
    st.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("S45 near-dup maintenance (uncapped): maintained labels == " +
      "one-shot clusters after EVERY batch; mid-stream retraction == " +
      "one-shot on survivors; batch and delete replays are no-ops") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("n_chars"))
      .localCheckpoint()
    var st = Streams.nearDupInit(d, 3, 32, 16)
    (0 to 2).foreach { i =>
      st = Streams.nearDupApplyBatch(spark, st,
        d.filter(col("doc_id") % 3 === i), 3, 32, 16, 0.42, 0.6, 0)
      val want = oneShotClusters(d.filter(col("doc_id") % 3 <= i), 0)
      assert(snap45(st) == want)
    }
    assert(snap45(st).nonEmpty)
    // replaying an already-folded batch: anti-joined away, no-op
    st = Streams.nearDupApplyBatch(spark, st,
      d.filter(col("doc_id") % 3 === 2), 3, 32, 16, 0.42, 0.6, 0)
    assert(snap45(st) == oneShotClusters(d, 0))
    // retraction mid-stream (GDPR erasure): == one-shot on survivors
    val dels = d.filter(col("doc_id") % 10 === 7)
    val surv = d.filter(col("doc_id") % 10 =!= 7)
    st = Streams.nearDupApplyDelete(spark, st, dels)
    val wantSurv = oneShotClusters(surv, 0)
    assert(snap45(st) == wantSurv)
    // replaying the same delete: idempotent
    st = Streams.nearDupApplyDelete(spark, st, dels)
    assert(snap45(st) == wantSurv)
  }

  test("S45 capped composition through the persisted LSH index: " +
      "foreachBatch (append + capped new-vs-live candidates + " +
      "incremental CC) == one-shot capped clusters after every batch " +
      "on a boilerplate-clique family; final capped index read " +
      "re-derives the same clusters") {
    import spark.implicits._
    import graft.ops.{Graphs, SimIndex, Similarity, Text}
    graft.functions.VecFunctions.ensureRegistered(spark)
    Seq("s45idx_bands", "s45idx_sigs", "s45idx_meta", "s45idx_docs",
        "s45idx_tombstones").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
      }
      rm(new java.io.File(s"$wh/$t"))
    }
    // three boilerplate families (identical body per family — the shape
    // that creates hot buckets at 100 TB); cap 4 makes the 9- and
    // 7-member families HOT while the 2-member family stays all-pairs
    def fam(body: String, n: Int, id0: Long): Seq[(Long, String)] =
      (0 until n).map(i => (id0 + i, body * 20))
    val docs = fam("alpha beta gamma delta epsilon ", 9, 100L) ++
      fam("zeta eta theta iota kappa lambda ", 7, 300L) ++
      fam("mu nu xi omicron pi rho sigma tau ", 2, 500L)
    val ddf = docs.toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .localCheckpoint()
    val cap = 4
    var labels = ddf.select(col("doc_id").as("id"),
      col("doc_id").as("component")).limit(0)
    var edges = ddf.select(col("doc_id").as("src"),
      col("doc_id").as("dst")).limit(0)
    var arrived = ddf.limit(0)
    val emptyInit = Streams.nearDupInit(ddf, 3, 32, 16)
    implicit val sq = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val q = source.toDS().toDF("doc_id", "text")
      .writeStream.foreachBatch { (b: DataFrame, _: Long) =>
        // each micro-batch ran its writes in a CLONED session — this
        // session's cached file listings must re-list to observe them
        SimIndex.refreshIndex(spark, "s45idx")
        val haveIdx = spark.catalog.tableExists("s45idx_meta")
        val st = Streams.NearDupState(labels, edges, arrived,
          sigs = if (haveIdx) spark.table("s45idx_sigs") else emptyInit.sigs,
          bands = if (haveIdx) spark.table("s45idx_bands") else emptyInit.bands)
        val fresh = b.select(col("doc_id").cast("long").as("doc_id"),
            col("text"), length(col("text")).cast("long").as("n_chars"))
          .join(arrived.select("doc_id"), Seq("doc_id"), "left_anti")
          .localCheckpoint()
        // fold against the PRE-append index state (new-vs-live) ...
        val st2 = Streams.nearDupApplyBatch(spark, st, b, 3, 32, 16,
          0.42, 0.6, cap)
        labels = st2.labels; edges = st2.edges; arrived = st2.docs
        // ... then the genuinely-new docs land in the persisted index
        if (fresh.head(1).nonEmpty) {
          if (!haveIdx)
            SimIndex.writeLshIndex(fresh, "s45idx", numHashes = 32,
              bands = 16, buckets = 2, shingleLen = 3)
          else SimIndex.appendLshIndex(fresh, "s45idx")
        }
        ()
      }.start()
    try {
      // families interleave across batches, one batch REPLAYED: the
      // hot buckets grow incrementally, at-least-once delivery holds
      val batches = Seq(
        docs.filter(_._1 % 3 == 0), docs.filter(_._1 % 3 == 1),
        docs.filter(_._1 % 3 == 1), docs.filter(_._1 % 3 == 2))
      var seen = Set.empty[Long]
      batches.foreach { batch =>
        seen = seen ++ batch.map(_._1)
        source.addData(batch); q.processAllAvailable()
        val want = oneShotClusters(
          ddf.filter(col("doc_id").isInCollection(seen)), cap)
        val got = labels.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got == want && want.nonEmpty)
      }
    } finally q.stop()
    // every family is one cluster labeled by its minimum member
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == docs.map { case (id, _) =>
      id -> (if (id < 300) 100L else if (id < 500) 300L else 500L) }.toMap)
    // the maintained-index capped read (SimIndex.lshCandidatesFromIndex
    // with maxBucket) re-derives the same clusters one-shot — the l02g
    // read over the index the stream maintained
    SimIndex.refreshIndex(spark, "s45idx")
    val idxSigs = spark.table("s45idx_sigs")
    val likely = Similarity.estimateJaccard(
        SimIndex.lshCandidatesFromIndex(spark, "s45idx", maxBucket = cap),
        idxSigs)
      .filter(col("est_jaccard") >= 0.42).select("a_id", "b_id")
    val pairs = Similarity.exactJaccardCompact(
        Text.shingles(ddf, 3), likely)
      .filter(col("jaccard") > 0.6)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
    val fromIdx = Graphs.connectedComponentsDF(spark, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fromIdx == got)
  }

  test("S45 capped maintenance on the organic corpus: maintained " +
      "clusters are a REFINEMENT of the uncapped one-shot clusters " +
      "(never a false merge), over a subset of its vertices") {
    graft.functions.VecFunctions.ensureRegistered(spark)
    val d = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("n_chars"))
      .localCheckpoint()
    var st = Streams.nearDupInit(d, 3, 32, 16)
    (0 to 2).foreach { i =>
      st = Streams.nearDupApplyBatch(spark, st,
        d.filter(col("doc_id") % 3 === i), 3, 32, 16, 0.42, 0.6, 8)
    }
    val got = snap45(st)
    val unc = oneShotClusters(d, 0)
    assert(got.nonEmpty && got.keySet.subsetOf(unc.keySet))
    got.groupBy(_._2).values.foreach { grp =>
      assert(grp.keys.map(unc).toSet.size == 1,
        s"maintained cluster ${grp.keys.toSeq.sorted.take(5)}... spans " +
          "multiple uncapped clusters (false merge)")
    }
  }
}
