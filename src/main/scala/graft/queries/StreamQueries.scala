package graft.queries

import graft.Tables
import graft.streaming.Streams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Batch twins of the streaming transforms (SURVEY.md §2.4). The SAME
  * transform functions run here over the batch `events` table and in
  * StreamingSpec over a MemoryStream — batch-equivalence is the streaming
  * oracle, and these batch results are themselves hash-checked in DuckDB.
  */
object StreamQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** A cloned session with the RocksDB state-store provider set:
    * transformWithState requires RocksDB, but setting it on the CALLER's
    * session would be an ordering-dependent global side effect (every
    * later streaming query would silently inherit the provider). The
    * clone shares the SparkContext, external catalog, and columnar cache;
    * only its conf is private.
    */
  private def stateSession(s: SparkSession): SparkSession = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    org.apache.spark.sql.GraftPlanBridge.ensureStateStoreCoordinator(s2)
    s2
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S01 — tumbling 1-hour counts per event type.
    "s01_tumbling_counts" -> ((s, dir) =>
      Streams.tumblingCounts(ev(s, dir))
        .orderBy("ws", "event_type")),

    // S02 — sliding 1-hour/15-minute sum of value cents.
    "s02_sliding_sum" -> ((s, dir) =>
      Streams.slidingSumCents(ev(s, dir))
        .orderBy("ws", "event_type")),

    // S03 — session_window sessions (strictly-less merge rule; see
    // Streams.sessionWindows scaladoc for the boundary contrast with T06).
    "s03_session_window" -> ((s, dir) =>
      Streams.sessionWindows(ev(s, dir))
        .orderBy("user_id", "session_start")),

    // S05 — dedup on event_id (watermark-scoped in streaming; plain exact
    // dedup in batch). event_id is the PK, so the twin unions a duplicated
    // slice (every 7th event) first — the hash check then exercises actual
    // collapse (output counts match plain `events`, which they would NOT
    // without the dedup), not just a count of unique keys.
    "s05_dedup" -> ((s, dir) => {
      val e = ev(s, dir)
      val dups = e.filter(col("event_id") % 7 === 0)
      e.unionAll(dups)
        .dropDuplicates("event_id")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_rows"))
        .transform(Relational.enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // S06 — arbitrary stateful op: running mean+3σ anomaly flags per
    // user. Batch twin runs the O(1)-state secondary-sort fold (a hot
    // user's history streams through, never materialized); StreamingSpec
    // asserts it equals the flatMapGroupsWithState path and a
    // hand-computed case. The state is EXACT integer moments
    // (n, Σcents, Σcents²) and the flag an integer inequality
    // (Streams.anomalyStep), so since r8 the fold replays exactly in
    // SQL and the entry is hash-matched (prefix-window oracle).
    "s06_anomaly_flags" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir)
        .select(col("event_id"), col("user_id"), col("value"))
        .as[Streams.EventIn]
      Streams.flagAnomaliesBatch(in)
        .filter(col("anomalous"))
        .select("event_id", "user_id")
        .orderBy("event_id")
    }),

    // S08 — transformWithState (Spark 4 arbitrary-state API): per-user
    // running totals in integer cents; batch run is exact and
    // hash-checked, the streaming run is asserted equal in StreamingSpec.
    "s08_transform_with_state" -> ((s0, dir) => {
      // transformWithState runs on the RocksDB state store (batch too),
      // and needs the coordinator endpoint streaming normally bootstraps;
      // both scoped to a cloned session (see stateSession).
      val s = stateSession(s0)
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), col("value"))
        .as[Streams.EventIn2]
      Streams.userTotals(in)
        .toDF()
        .orderBy("user_id")
    }),

    // S09 — transformWithState with LIST state: per-user count + cents
    // total of the 5 most-recent events by (ts, event_id). Batch run is
    // exact (one batch = the whole table) and hash-checked against a
    // window-rank SQL twin; streaming equality is in StreamingSpec.
    "s09_list_state_lastk" -> ((s0, dir) => {
      val s = stateSession(s0)
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), col("event_id"), graft.Det.epochUs(col("ts")).as("ts_us"),
          graft.Det.cents(col("value")).as("cents"))
        .as[Streams.TsEv]
      Streams.lastKTotals(in, k = 5)
        .toDF()
        .orderBy("user_id")
    }),

    // S10 — transformWithState with MAP state: per-user histogram of
    // event types (state = one map entry per distinct type, not history).
    // Batch run emits the final histogram once — hash-checked.
    "s10_map_state_counts" -> ((s0, dir) => {
      val s = stateSession(s0)
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), col("event_type"))
        .as[Streams.TypeEv]
      Streams.typeCounts(in)
        .toDF()
        .orderBy("user_id", "event_type")
    }),

    // S07 — stream-static join shape in batch: events enriched with the
    // customer dim, counted per segment.
    "s07_stream_static_join" -> ((s, dir) =>
      Streams.enrichWithCustomers(ev(s, dir), Tables.load(s, dir, "customer"))
        // users outside the bridged c_custkey%50 domain have no segment;
        // coalesce so the null group can't hit cross-engine null-ordering
        .groupBy(coalesce(col("segment"), lit("NONE")).as("segment"))
        .agg(count(lit(1)).as("n_events"))
        .orderBy("segment")),

    // S11 — event-time timer-closed sessions. The streaming form
    // (Streams.timerSessions / SessionTimerProcessor) is asserted equal
    // to the batch sessionization in StreamingSpec; THIS driver-visible
    // batch twin is that same 30-minute strictly-greater session
    // aggregate in the S11 output shape (epoch-micro bounds), hash-
    // checked against DuckDB.
    "s11_timer_sessions" -> ((s, dir) => {
      graft.ops.Temporal.sessionize(ev(s, dir), entity = "user_id",
          ts = "ts", tieBreak = "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_id")
        .agg(graft.Det.epochUs(min(col("ts"))).as("start_us"),
          graft.Det.epochUs(max(col("ts"))).as("end_us"),
          count(lit(1)).as("n_events"))
        .select("user_id", "start_us", "end_us", "n_events")
        .orderBy("user_id", "start_us")
    }),

    // S13 — stream-stream interval join (view→purchase attribution within
    // 30 minutes). The streaming form is asserted equal to this batch run
    // in StreamingSpec; the batch run degenerates to a plain range join
    // (watermarks eliminated) and is hash-checked against DuckDB.
    "s13_stream_stream_join" -> ((s, dir) => {
      val e = ev(s, dir)
      Streams.viewPurchaseJoin(e, e)
        .orderBy("view_id", "purchase_id")
    }),

    // S13b — LEFT OUTER stream-stream join: views with no purchase in
    // their window survive with null purchase columns (coalesced to -1
    // here so the total order and the cross-engine hash avoid null-
    // ordering divergence). Streaming null emission is watermark-driven
    // and asserted in StreamingSpec; this batch twin is hash-checked.
    "s13b_stream_outer_join" -> ((s, dir) => {
      val e = ev(s, dir)
      Streams.viewPurchaseJoinOuter(e, e)
        .select(col("view_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          col("user_id"),
          coalesce(col("delta_us"), lit(-1L)).as("delta_us"))
        .orderBy("view_id", "purchase_id")
    }),

    // S17 — FULL OUTER stream-stream join: the join matrix's last cell —
    // unmatched views AND unmatched purchases both survive, nulls
    // coalesced to -1 for a divergence-free total order. Symmetric
    // watermark eviction is asserted in StreamingSpec; this batch twin
    // is hash-checked.
    "s17_stream_full_outer" -> ((s, dir) => {
      val e = ev(s, dir)
      Streams.viewPurchaseJoinFull(e, e)
        .select(coalesce(col("view_id"), lit(-1L)).as("view_id"),
          coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
          col("user_id"),
          coalesce(col("delta_us"), lit(-1L)).as("delta_us"))
        .orderBy("view_id", "purchase_id")
    }),

    // S16 — latest-state snapshot (batch form of the foreachBatch
    // maintenance sink): one row per user, greatest (ts, event_id). The
    // SAME latestState step reduces each micro-batch in mergeSnapshot;
    // replay idempotence is asserted in StreamingSpec.
    "s16_latest_state" -> ((s, dir) =>
      Streams.latestState(ev(s, dir)).orderBy("user_id")),

    // S15 — stream-stream LEFT SEMI join: views that got a purchase
    // within their 30-minute attribution window, emitted once. Batch
    // twin = EXISTS, hash-checked; stream == batch in StreamingSpec.
    "s15_stream_semi_join" -> ((s, dir) => {
      val e = ev(s, dir)
      Streams.viewPurchaseJoinSemi(e, e)
        .orderBy("view_id")
    }),

    // S14 — streaming interval-view maintenance: closed per-user value
    // intervals, emitted as each new change point arrives. Batch twin =
    // the O(1)-state secondary-sort fold (== Temporal.intervalView's
    // closed rows, == the streaming run in StreamingSpec); hash-checked
    // against a lead() window oracle.
    "s14_interval_maintenance" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), col("event_id"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          graft.Det.cents(col("value")).as("cents"))
        .as[Streams.ChangeEv]
      Streams.intervalsBatch(in)
        .toDF()
        .orderBy("user_id", "valid_from_us", "event_id")
    }),

    // S18 — streaming near-dup gate: per-doc dup flag = some earlier doc
    // (smaller id) already claimed one of its 4 SimHash band buckets.
    // The streaming form (Streams.bandGate state across batches) is
    // asserted equal in StreamingSpec; this batch twin runs the SAME
    // processor over the whole corpus and is hash-checked against a
    // DuckDB window replay of the simhash→band→first-claim pipeline.
    "s18_neardup_gate" -> ((s0, dir) => {
      val s = stateSession(s0)
      import s.implicits._
      val bands = Streams.simHashBands(Tables.load(s, dir, "documents"))
        .as[Streams.BandEv]
      Streams.bandGate(bands).toDF()
        .groupBy("doc_id")
        .agg((max(col("prior").cast("int")) === 1).as("dup"))
        .orderBy("doc_id")
    }),

    // S20 — STREAMING as-of join: purchases answered with the most
    // recent at-or-before click of the same user from one-row per-user
    // state (no buffering — "at-or-before" needs only the running best).
    // Streaming == batch fold in StreamingSpec; THIS batch twin is the
    // same fold over the whole table, held to q10's oracle semantics
    // (tie at equal ts -> max click id; no prior click -> -1).
    "s20_stream_asof" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir)
        .filter(col("event_type").isin("click", "purchase"))
        .select(col("user_id"), col("event_id"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          (col("event_type") === "click").as("is_click"))
        .as[Streams.AsofEv]
      Streams.asofBatch(in).toDF()
        .select(col("event_id"), col("user_id"),
          timestamp_micros(col("ts_us")).as("ts"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"))
        .orderBy("event_id")
    }),

    // S33 — streaming last-touch attribution: t33's credit rule
    // maintained live with one LastTouch per user (see Streams
    // .attribStep); batch twin = the same fold over the whole table,
    // per-purchase rows hash-matched against the t33 oracle's
    // pre-rollup form. Stream == batch (incl. the strictly-earlier
    // equal-ts rule) in StreamingSpec.
    "s33_stream_attribution" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id"), col("event_id"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        col("event_type").isin("click", "view").as("is_touch"),
        (col("event_type") === "purchase").as("is_purchase"),
        col("event_type").as("channel"),
        expr("CAST(round(value*100) AS BIGINT)").as("cents"))
        .as[Streams.AttribEv]
      Streams.attributionBatch(in).toDF()
        .select("event_id", "channel", "cents")
        .orderBy("event_id")
    }),

    // S36 — streaming pattern matching: live funnel counting, q57's
    // machine as a continuous query (Patterns.matchCountsStream — the
    // machine's O(1) residue incl. the WITHIN ring persists in
    // GroupState across micro-batches, each batch emits a running
    // snapshot per entity). Batch run = one batch over the whole table
    // → the final snapshots, which ARE q57's result (shared
    // boundedStep), hash-matched against q57's oracle verbatim.
    // Stream == batch across splits (ring/anchor crossing batch
    // boundaries) in StreamingSpec.
    "s36_stream_patterns" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id").as("entity"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_id").as("tie"), col("event_type").as("sym"))
        .as[graft.ops.Patterns.PatEv]
      graft.ops.Patterns.matchCountsStream(in,
          Seq("view", "click", "view", "purchase"), contiguous = false)
        .toDF()
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")
    }),

    // S39 — LIVE per-match emission (streaming MATCH_RECOGNIZE): q59's
    // bounded funnel matches emitted as rows the moment they complete;
    // a completed match is final, so Append mode is exact and the
    // one-batch fold reproduces q59's oracle verbatim.
    "s39_stream_match_rows" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id").as("entity"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_id").as("tie"), col("event_type").as("sym"))
        .as[graft.ops.Patterns.PatEv]
      graft.ops.Patterns.quantifiedMatchesStream(in,
          Seq((Set("view"), 1, 1), (Set("click"), 1, Int.MaxValue),
            (Set("purchase"), 1, 1)),
          withinUs = Some(86400L * 1000000L))
        .toDF()
        .select(col("entity").as("user_id"), col("match_no"),
          col("anchor_us"), col("end_us"))
        .orderBy("user_id", "match_no")
    }),

    // S36d — the WITHIN-bounded subsequence funnel LIVE (q57c's
    // semantics as a continuous query, NEW r14): qboundedStep already
    // threads the anchor + run-start ring through GroupState (the
    // batch-boundary crossings are pinned in StreamingSpec), so the
    // bound is one argument; the one-batch fold == q57c exactly (same
    // oracle verbatim).
    "s36d_stream_within_patterns" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id").as("entity"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_id").as("tie"), col("event_type").as("sym"))
        .as[graft.ops.Patterns.PatEv]
      graft.ops.Patterns.matchCountsStream(in,
          Seq("view", "click", "view", "purchase"), contiguous = false,
          withinUs = Some(7L * 86400L * 1000000L))
        .toDF()
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")
    }),

    // S36e — quantified stages + WITHIN live (q57e's machine as a
    // continuous query, NEW r14); held to q57e's DFA-replay oracle.
    "s36e_stream_quant_within" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id").as("entity"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_id").as("tie"), col("event_type").as("sym"))
        .as[graft.ops.Patterns.PatEv]
      graft.ops.Patterns.quantifiedCountsStream(in,
          Seq(("view", 1, 1), ("click", 1, Int.MaxValue),
            ("purchase", 1, 1)),
          withinUs = Some(86400L * 1000000L))
        .toDF()
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")
    }),

    // S36f — q57f's RE-ANCHORING WITHIN machine live (NEW r14): the
    // O(|pattern|) anchor array persists across batches; the one-batch
    // fold == q57f exactly (same oracle verbatim).
    "s36f_stream_reanchor" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id").as("entity"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_id").as("tie"), col("event_type").as("sym"))
        .as[graft.ops.Patterns.PatEv]
      graft.ops.Patterns.reanchoredCountsStream(in,
          Seq("view", "click", "view", "purchase"),
          withinUs = 7L * 86400L * 1000000L)
        .toDF()
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")
    }),

    // S36b — the quantified sibling (q57d's `view click+ purchase`
    // machine live); same discipline, held to q57d's DFA-replay oracle.
    "s36b_stream_quant_patterns" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir).select(col("user_id").as("entity"),
          graft.Det.epochUs(col("ts")).as("ts_us"),
          col("event_id").as("tie"), col("event_type").as("sym"))
        .as[graft.ops.Patterns.PatEv]
      graft.ops.Patterns.quantifiedCountsStream(in,
          Seq(("view", 1, 1), ("click", 1, Int.MaxValue),
            ("purchase", 1, 1)))
        .toDF()
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")
    }),

    // S24 — streaming rolling 7-day distinct users: q38's WAU curve as
    // a continuous query (dedup -> x7 contribution explode -> dedup ->
    // windowed count, all watermark-evictable). Batch twin == q38
    // exactly (same oracle); stream == batch in StreamingSpec.
    "s24_streaming_wau" -> ((s, dir) => {
      val e = ev(s, dir)
      val maxDay = e.agg(date_trunc("DAY", max(col("ts"))).as("max_day"))
      Streams.rollingDistinctUsers(e)
        .crossJoin(broadcast(maxDay))
        .filter(col("wday") <= col("max_day"))
        .select("wday", "wau")
        .orderBy("wday")
    }),

    // S28 — streaming interval coalescing: t19's maximal spans as a
    // continuous query — the per-user span list folds each arriving
    // 45-minute hold in (set union: associative+commutative, so a late
    // interval that BRIDGES two spans collapses them exactly); batch
    // run = one batch over the whole table = t19, hash-matched against
    // its oracle. Stream == batch incl. bridging in StreamingSpec.
    "s28_streaming_coalesce" -> ((s0, dir) => {
      val s = stateSession(s0)
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), graft.Det.epochUs(col("ts")).as("start_us"),
          (graft.Det.epochUs(col("ts")) + lit(45L * 60 * 1000000))
            .as("end_us"))
        .as[Streams.HoldEv]
      Streams.coalesceSpans(in).toDF()
        .select(col("user_id"),
          timestamp_micros(col("start_us")).as("span_start"),
          timestamp_micros(col("end_us")).as("span_end"),
          col("n_intervals"))
        .orderBy("user_id", "span_start")
    }),

    // S29 — streaming gap detection: t17's silences live — each event
    // checked against the user's previous one from one-row state, a
    // super-threshold silence emitted as a closed gap the moment the
    // next event lands. Batch twin = the same fold over the whole
    // table, hash-matched against t17's oracle; stream == batch fold
    // in StreamingSpec.
    "s29_streaming_gaps" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), col("event_id"),
          graft.Det.epochUs(col("ts")).as("ts_us"))
        .as[Streams.GapEv]
      Streams.gapsBatch(in, minGapUs = 86400L * 1000000).toDF()
        .select(col("user_id"),
          timestamp_micros(col("gap_start_us")).as("gap_start"),
          timestamp_micros(col("gap_end_us")).as("gap_end"),
          col("gap_us"))
        .orderBy("user_id", "gap_start")
    }),

    // S30 — streaming retention cohorts: q34's cohort table from the
    // per-user week-set state (a late earlier-week event shifts the
    // user's cohort retroactively — snapshot re-emission, not pair
    // appends). Batch fold == q34's aggregation exactly (same oracle);
    // stream == batch incl. the cohort shift in StreamingSpec.
    "s30_streaming_retention" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"),
          floor(datediff(col("ts"), lit("2024-01-01").cast("date")) /
            lit(7.0)).cast("long").as("wk"))
        .as[Streams.WkEv]
      Streams.retentionBatch(in).toDF()
        .select(col("cohort_wk"), explode(col("weeks")).as("wk"))
        .groupBy("cohort_wk", "wk")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_wk", "wk")
    }),

    // S31 — streaming end-of-day balance: t30's semi-additive daily
    // curve from the per-(user, day) last-change state (late events
    // rewrite their own day's last only if later within it — see
    // Streams.eodStream). Batch fold + the same delta-encoded spine
    // aggregation == t30 exactly (same oracle); stream == batch incl.
    // late-event rewrites in StreamingSpec.
    "s31_streaming_eod" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val in = ev(s, dir).select(col("user_id"),
          graft.Det.epochUs(date_trunc("day", col("ts"))).as("day_us"),
          graft.Det.epochUs(col("ts")).as("ts_us"), col("event_id"),
          expr("CAST(round(value*100) AS BIGINT)").as("cents"))
        .as[Streams.BalEv]
      val lastPerDay = Streams.eodBatch(in).toDF()
        .select(col("user_id"), explode(col("days")).as("dl"))
        .select(col("user_id"), timestamp_micros(col("dl.day_us")).as("day"),
          col("dl.cents"))
      val wUser = Window.partitionBy("user_id").orderBy("day")
      val deltas = lastPerDay
        .withColumn("prev", lag("cents", 1).over(wUser))
        .select(col("day"),
          (col("cents") - coalesce(col("prev"), lit(0L))).as("delta"),
          when(col("prev").isNull, 1L).otherwise(0L).as("is_first"))
        .groupBy("day")
        .agg(sum("delta").as("day_delta"), sum("is_first").as("new_users"))
      val bounds = ev(s, dir).agg(
        date_trunc("day", min(col("ts"))).as("lo"),
        date_trunc("day", max(col("ts"))).as("hi"))
      val spine = bounds.select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
      val wSpine = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(deltas, Seq("day"), "left")
        .withColumn("n_users",
          sum(coalesce(col("new_users"), lit(0L))).over(wSpine))
        .withColumn("eod_total_cents",
          sum(coalesce(col("day_delta"), lit(0L))).over(wSpine))
        .select("day", "n_users", "eod_total_cents")
        .orderBy("day")
    }),

    // S32 — streaming trend maintenance: q51's regression from
    // 3 deterministic hash-split batches of partials + one REPLAYED
    // batch (replace, not add — the t09b idempotence), finished by the
    // shared decimal slope; == q51's one-shot oracle exactly.
    "s32_streaming_trend" -> ((s, dir) => {
      val e = ev(s, dir)
      val originUs = e.agg(min(graft.Det.epochUs(col("ts"))))
        .head().getLong(0)
      var state = Streams.trendPartials(e.limit(0), originUs, -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeTrendPartials(state,
          e.filter(col("event_id") % 3 === i), originUs, i.toLong)
      }
      // replayed batch REPLACES its own rows — a no-op by construction
      state = Streams.mergeTrendPartials(state,
        e.filter(col("event_id") % 3 === 1), originUs, 1L)
      Streams.trendFromPartials(state)
        .transform(Relational.enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // S27 — incremental connected components: g06's labels maintained
    // through 3 deterministic hash-split micro-batches of the co-part
    // edge stream, one batch REPLAYED (merging already-merged
    // components is naturally a no-op — CC's idempotence needs no
    // ledger); each fold contracts only the batch-sized quotient graph
    // and relabels via a broadcast remap. Final labels == the one-shot
    // star-contraction CC (g06's oracle). StreamingSpec drives the same
    // fold from a real MemoryStream.
    "s27_incremental_cc" -> ((s, dir) => {
      val edges = graft.ops.Graphs.copartEdges(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      def slice(i: Int) =
        edges.filter(pmod(xxhash64(col("src"), col("dst")), lit(3)) === i)
      var labels = edges.select(col("src").cast("long").as("id"),
        col("src").cast("long").as("component")).limit(0)
      (0 to 2).foreach { i =>
        labels = Streams.ccApplyBatch(s, labels, slice(i))
      }
      labels = Streams.ccApplyBatch(s, labels, slice(2)) // replay: no-op
      labels.select(col("id").as("p_partkey"), col("component"))
        .orderBy("p_partkey")
    }),

    // S27b — incremental CC WITH RETRACTIONS (r15): the g39 binary
    // part hierarchy (child c → parent c div 2 — ONE tree, so every
    // edge is a bridge and every delete genuinely SPLITS, unlike the
    // expander-robust co-part graph where no natural predicate
    // disconnects anything) ingested in 3 insert batches through the
    // decremental fold (Streams.ccApplyDelta — state gains the live
    // edge set, the price of exact deletes), then a 4th batch DELETES
    // every edge whose child is ≡ 0 (mod 20): each delete severs that
    // child's subtree, fragmenting the tree into ~|parts|/20
    // components. The fold re-colors only the touched components'
    // surviving subgraphs; final labels == one-shot CC over the
    // surviving edge list (the recursive-walk oracle over the kept
    // tree edges). StreamingSpec additionally pins the bridge-delete
    // split, isolated-vertex drop, a mixed insert+delete fold, and
    // insert-only equivalence with ccApplyBatch on a hand fixture.
    "s27b_cc_retraction" -> ((s, dir) => {
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"))
      val pairs = p.filter(col("id") >= 2)
        .select(expr("id div 2").as("x"), col("id").as("y"))
        .join(p.select(col("id").as("x")), Seq("x"), "left_semi")
      val edges = pairs.select(col("x").as("src"), col("y").as("dst"))
        .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
        .transform(graft.ops.Checkpoints.cut)
      def slice(i: Int) =
        edges.filter(pmod(xxhash64(col("src"), col("dst")), lit(3)) === i)
      val none = edges.limit(0)
      var labels = edges.select(col("src").as("id"),
        col("src").as("component")).limit(0)
      var live = none
      (0 to 2).foreach { i =>
        val r = Streams.ccApplyDelta(s, labels, live, slice(i), none)
        labels = r._1; live = r._2
      }
      val dels = edges.filter(
        greatest(col("src"), col("dst")) % 20 === 0)
      val r = Streams.ccApplyDelta(s, labels, live, none, dels)
      r._1.select(col("id").as("p_partkey"), col("component"))
        .orderBy("p_partkey")
    }),

    // S43 — incremental δ-restless reachability (r15): g45's read
    // maintained through 3 hash-split batches of the T_copart temporal
    // edge stream + one REPLAYED batch (set-union edges + min-merge
    // labels — idempotent by construction); seeds are the FIXED entry
    // labels (the g45 convention, computed once from the full edge
    // set — the caller's anchor events in a real pipeline). Final
    // min-arrival read == the one-shot g45 oracle.
    "s43_restless_maintenance" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val a = li.select(col("l_orderkey"), col("l_partkey").as("src"),
        graft.Det.epochUs(col("l_shipdate")).as("dep_us"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"),
        graft.Det.epochUs(col("l_shipdate")).as("arr_us"))
      val edges = a.join(b, "l_orderkey")
        .filter(col("src") =!= col("dst") && col("arr_us") > col("dep_us"))
        .select("src", "dst", "dep_us", "arr_us").distinct()
        .transform(graft.ops.Checkpoints.cut)
      val seeds = edges
        .orderBy(col("dep_us"), col("src"), col("dst"), col("arr_us"))
        .limit(10)
        .select(col("dst").as("id"), col("arr_us"))
      var labels = seeds.withColumn("dmin", lit(1))
        .groupBy("id", "arr_us").agg(min("dmin").as("dmin"))
        .transform(graft.ops.Checkpoints.cut)
      var live = edges.limit(0)
      def slice(i: Int) = edges.filter(
        pmod(xxhash64(col("src"), col("dst"), col("dep_us")), lit(3)) === i)
      (0 to 2).foreach { i =>
        val r = Streams.restlessApplyBatch(s, labels, live, slice(i),
          deltaUs = 30L * 86400L * 1000000L, maxHops = 4)
        labels = r._1; live = r._2
      }
      val r = Streams.restlessApplyBatch(s, labels, live, slice(1),
        deltaUs = 30L * 86400L * 1000000L, maxHops = 4) // replay: no-op
      r._1.groupBy(col("id").as("p_partkey"))
        .agg(min("arr_us").as("arrival_us"))
        .orderBy("p_partkey")
    }),

    // S43b — restless maintenance with RETRACTIONS (r16): the s43 fold
    // plus one temporal-edge DELETE batch — edges with
    // (src + dst) % 20 == 0 erased after the 3 insert batches, then the
    // SAME delete batch replayed (taint + refold are idempotent). Seeds
    // stay the FIXED entry labels computed from the full edge set (the
    // caller's anchors survive the erasure — the s43 contract). Final
    // min-arrival read == the one-shot g45 walk replay over the
    // SURVIVING edges.
    "s43b_restless_retraction" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val a = li.select(col("l_orderkey"), col("l_partkey").as("src"),
        graft.Det.epochUs(col("l_shipdate")).as("dep_us"))
      val b = li.select(col("l_orderkey"), col("l_partkey").as("dst"),
        graft.Det.epochUs(col("l_shipdate")).as("arr_us"))
      val edges = a.join(b, "l_orderkey")
        .filter(col("src") =!= col("dst") && col("arr_us") > col("dep_us"))
        .select("src", "dst", "dep_us", "arr_us").distinct()
        .transform(graft.ops.Checkpoints.cut)
      val seeds = edges
        .orderBy(col("dep_us"), col("src"), col("dst"), col("arr_us"))
        .limit(10)
        .select(col("dst").as("id"), col("arr_us"))
        .transform(graft.ops.Checkpoints.cut)
      var labels = seeds.withColumn("dmin", lit(1))
        .groupBy("id", "arr_us").agg(min("dmin").as("dmin"))
        .transform(graft.ops.Checkpoints.cut)
      var live = edges.limit(0)
      val none = edges.limit(0)
      val delta = 30L * 86400L * 1000000L
      def slice(i: Int) = edges.filter(
        pmod(xxhash64(col("src"), col("dst"), col("dep_us")), lit(3)) === i)
      (0 to 2).foreach { i =>
        val r = Streams.restlessApplyDelta(s, labels, live, slice(i), none,
          seeds, deltaUs = delta, maxHops = 4)
        labels = r._1; live = r._2
      }
      val dels = edges.filter((col("src") + col("dst")) % 20 === 0)
      (1 to 2).foreach { _ => // second application replays: idempotent
        val r = Streams.restlessApplyDelta(s, labels, live, none, dels,
          seeds, deltaUs = delta, maxHops = 4)
        labels = r._1; live = r._2
      }
      labels.groupBy(col("id").as("p_partkey"))
        .agg(min("arr_us").as("arrival_us"))
        .orderBy("p_partkey")
    }),

    // S26 — streaming funnel progression: q33's view→click→purchase
    // stage sets maintained exactly under out-of-order arrival (a late
    // earlier view retroactively re-qualifies clicks — the state keeps
    // the lists it needs to re-derive the chain). Batch run = one batch
    // over the whole table; the per-user truths aggregate to q33's
    // stage counts and hash-match its oracle. Stream == batch in
    // StreamingSpec, including a late-view reorder case.
    "s26_streaming_funnel" -> ((s0, dir) => {
      val s = stateSession(s0)
      import s.implicits._
      val in = ev(s, dir)
        .select(col("user_id"), col("event_type"),
          graft.Det.epochUs(col("ts")).as("ts_us"))
        .as[Streams.FunnelEv]
      val per = Streams.funnelStages(in).toDF()
      Seq(("1_view", col("v_us") >= 0), ("2_click", col("c_us") >= 0),
          ("3_purchase", col("p_us") >= 0))
        .map { case (nm, cond) => per.filter(cond)
          .agg(lit(nm).as("stage"), count(lit(1)).as("n_users")) }
        .reduce(_.unionAll(_)).orderBy("stage")
    }),

    // S25 — streaming OHLC bars: t24's per-(user, day) candle bars as a
    // continuous query (order-insensitive min_by/max_by folds, so late
    // rows inside the watermark land exactly); in batch the plan
    // collapses to t24 and hash-matches its oracle. Stream == batch in
    // StreamingSpec.
    "s25_streaming_ohlc" -> ((s, dir) =>
      Streams.ohlcBars(ev(s, dir))
        .orderBy("user_id", "day")),

    // S23 — streaming importance-weight maintenance (continuous DSIR):
    // the l29 bucket stats maintained through 3 deterministic
    // "micro-batches" (doc_id mod 3) of batch-id-stamped partials, one
    // batch REPLAYED (delete-then-insert idempotence), then the score
    // table rebuilt from the maintained stats and the whole corpus
    // scored — held to l29's one-shot oracle, proving maintained ==
    // from-scratch. StreamingSpec drives the same fold from a real
    // MemoryStream.
    // S35 — streaming maintenance of the T38 percentile index: the
    // day-bucket histogram partials maintained through 3 deterministic
    // "micro-batches" (event_id mod 3) of batch-id-stamped rows, one
    // batch REPLAYED (delete-then-insert idempotence), then the t38
    // read path answered from the MAINTAINED table — held to t38's
    // one-shot oracle, proving maintained == built-from-scratch.
    // StreamingSpec drives the same fold from a real MemoryStream and
    // answers a range query mid-stream.
    "s35_percentile_maintenance" -> ((s, dir) => {
      import graft.ops.Temporal
      val e = ev(s, dir)
      val vc = graft.Det.cents(col("value"))
      var state = Streams.histogramPartials(e.limit(0), "event_type",
        "ts", vc, 0L, 50000L, 25, -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeHistogramPartials(state,
          e.filter(col("event_id") % 3 === i), "event_type", "ts", vc,
          0L, 50000L, 25, i.toLong)
      }
      // replayed batch: REPLACES its own rows — a no-op by construction
      state = Streams.mergeHistogramPartials(state,
        e.filter(col("event_id") % 3 === 2), "event_type", "ts", vc,
        0L, 50000L, 25, 2L)
      Temporal.percentilesFromHistogram(
          Streams.histogramFromPartials(state, "event_type")
            .filter(col("day").between(
              lit("2024-01-08").cast("timestamp"),
              lit("2024-01-21").cast("timestamp"))),
          entity = "event_type", percents = Seq(50, 90, 99),
          loCents = 0L, hiCents = 50000L, nBuckets = 25)
        .orderBy("event_type", "p")
    }),

    // S37 — streaming drift detection: PSI between a reference and a
    // live day-range of the SAME maintained histogram s35 keeps (the
    // continuous "has this feed's distribution moved?" monitor). The
    // maintenance is s35's batch-id-stamped partials verbatim; the new
    // piece is the smoothed-PSI read over the full bucket domain.
    "s37_drift_psi" -> ((s, dir) => {
      import graft.ops.Temporal
      val e = ev(s, dir)
      val vc = graft.Det.cents(col("value"))
      var state = Streams.histogramPartials(e.limit(0), "event_type",
        "ts", vc, 0L, 50000L, 25, -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeHistogramPartials(state,
          e.filter(col("event_id") % 3 === i), "event_type", "ts", vc,
          0L, 50000L, 25, i.toLong)
      }
      // replayed batch: REPLACES its own rows — a no-op by construction
      state = Streams.mergeHistogramPartials(state,
        e.filter(col("event_id") % 3 === 2), "event_type", "ts", vc,
        0L, 50000L, 25, 2L)
      Temporal.psiFromHistogram(
          Streams.histogramFromPartials(state, "event_type"),
          entity = "event_type",
          refFrom = lit("2024-01-01").cast("timestamp"),
          refTo = lit("2024-01-14").cast("timestamp"),
          liveFrom = lit("2024-01-15").cast("timestamp"),
          liveTo = lit("2024-01-30").cast("timestamp"),
          nBuckets = 25)
        .transform(Relational.enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // S38 — streaming bigram-LM maintenance: l50's quality-filter model
    // kept live as reference docs land (the s23 shape over Text.
    // bigramStats' additive tall table); the read scores the full
    // corpus against the maintained model and must equal the one-shot
    // l50 build exactly.
    "s38_bigram_lm_maintenance" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val isRef = col("doc_id") % 5 === 0
      var state = Streams.bigramStatPartials(d.limit(0), isRef, -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeBigramStatPartials(state,
          d.filter(col("doc_id") % 3 === i), isRef, i.toLong)
      }
      // replayed batch: REPLACES its own rows — a no-op by construction
      state = Streams.mergeBigramStatPartials(state,
        d.filter(col("doc_id") % 3 === 2), isRef, 2L)
      graft.ops.Text.bigramXentFromStats(d,
          Streams.bigramStatsFromPartials(state))
        .orderBy("doc_id")
    }),

    // S40 — streaming span-cut maintenance (NEW r14): l52's global
    // cross-doc duplicate-shingle index kept live through 3
    // batch-id-stamped partial batches (doc_id mod 3), one REPLAYED
    // (delete-then-insert idempotence); the read cuts spans against the
    // MAINTAINED set and must equal the one-shot l52 exactly.
    "s40_span_cut_maintenance" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      var state = Streams.shingleDocPartials(d.limit(0), 20, -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeShingleDocPartials(state,
          d.filter(col("doc_id") % 3 === i), 20, i.toLong)
      }
      // replayed batch: REPLACES its own rows — a no-op by construction
      state = Streams.mergeShingleDocPartials(state,
        d.filter(col("doc_id") % 3 === 2), 20, 2L)
      graft.ops.Text.spanCutStats(d,
          Streams.dupShinglesFromPartials(state))
        .orderBy("doc_id")
    }),

    // S45 — maintained near-dup CLUSTERS (r19): l02g's bounded dedup
    // clusters kept live as documents arrive — per batch the new docs'
    // capped LSH candidates against the live corpus are exactly
    // re-checked and the surviving edges fold into the incremental CC
    // labels (Streams.nearDupApplyBatch; same parameters as l02g:
    // 3-shingles, 32 hashes, 16 bands, est>=0.42, jaccard>0.6, cap 64).
    // 3 deterministic doc_id-mod-3 batches, the last REPLAYED (already-
    // indexed docs anti-join away — at-least-once idempotence). Engine-
    // only (seeded MinHash): rows-checked here; StreamingSpec pins the
    // exact contracts — UNCAPPED maintained == one-shot clusters after
    // EVERY batch (edge discovery is pairwise time-invariant, so the
    // sets are equal, not just the components); CAPPED maintained ==
    // one-shot capped on a boilerplate-clique family (all star edges
    // survive the re-check); and on the organic corpus the capped
    // maintained clusters are a REFINEMENT of the uncapped one-shot
    // (never a false merge). Vs the capped one-shot (l02g) the PAIR
    // sets differ by design — the hub of a hot bucket shifts as the
    // corpus grows — so their post-filter chained components can split
    // differently (measured at sf0.01: 1 cluster of 329); both sit
    // inside the same uncapped components.
    "s45_neardup_maintenance" -> ((s, dir) => {
      graft.functions.VecFunctions.ensureRegistered(s)
      val d = Tables.load(s, dir, "documents")
      var st = Streams.nearDupInit(d, 3, 32, 16)
      (0 to 2).foreach { i =>
        st = Streams.nearDupApplyBatch(s, st, d.filter(col("doc_id") % 3 === i),
          3, 32, 16, 0.42, 0.6, maxBucket = 64)
      }
      st = Streams.nearDupApplyBatch(s, st, d.filter(col("doc_id") % 3 === 2),
        3, 32, 16, 0.42, 0.6, maxBucket = 64) // replay: no-op
      st.labels.select(col("id").as("doc_id"),
        col("component").as("cluster_id")).orderBy("doc_id")
    }),

    // S45b — near-dup maintenance WITH RETRACTIONS (r19): the s45 fold
    // plus a 4th batch ERASING every doc_id ≡ 7 (mod 10) mid-stream
    // (GDPR/opt-out), the delete REPLAYED (taint + bounded re-color are
    // idempotent). Final labels == the one-shot clusters over the
    // SURVIVING corpus (the erased docs' edges vanish; partners left
    // edge-less drop out) — pinned in StreamingSpec on the uncapped
    // fold; engine-only (seeded MinHash), rows-checked here.
    "s45b_neardup_retraction" -> ((s, dir) => {
      graft.functions.VecFunctions.ensureRegistered(s)
      val d = Tables.load(s, dir, "documents")
      var st = Streams.nearDupInit(d, 3, 32, 16)
      (0 to 2).foreach { i =>
        st = Streams.nearDupApplyBatch(s, st, d.filter(col("doc_id") % 3 === i),
          3, 32, 16, 0.42, 0.6, maxBucket = 64)
      }
      val dels = d.filter(col("doc_id") % 10 === 7)
      (1 to 2).foreach { _ => // second application replays: idempotent
        st = Streams.nearDupApplyDelete(s, st, dels)
      }
      st.labels.select(col("id").as("doc_id"),
        col("component").as("cluster_id")).orderBy("doc_id")
    }),

    // S46 — maintained per-vertex TRIANGLE COUNTS (r19): g27's cohesion
    // kernel kept live through 3 hash-split insert batches of the
    // co-part pair stream + one REPLAYED batch (fresh edges anti-join
    // away — a natural no-op); each fold enumerates only the triangles
    // the batch's edges close (batch-incident wedges, never corpus
    // triangles) and merges corner deltas into the maintained counts.
    // Final counts == the one-shot triangle SQL over the full pair set
    // (hash oracle); StreamingSpec pins per-batch equality with
    // Graphs.trianglesPerVertex on hand fixtures plus the delete cases.
    "s46_triangle_maintenance" -> ((s, dir) => {
      val pairs = graft.ops.Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      def slice(i: Int) =
        pairs.filter(pmod(xxhash64(col("x"), col("y")), lit(3)) === i)
      val none = pairs.limit(0)
      var st = Streams.triInit(pairs)
      (0 to 2).foreach { i => st = Streams.triApplyDelta(st, slice(i), none) }
      st = Streams.triApplyDelta(st, slice(2), none) // replay: no-op
      st.counts.orderBy("id")
    }),

    // S46b — triangle maintenance WITH RETRACTIONS (r19): the s46 fold
    // plus a 4th batch DELETING every pair with (x + y) ≡ 0 (mod 5),
    // the delete REPLAYED (deleted edges semi-join the live set first —
    // idempotent); lost triangles are enumerated against the PRE-delete
    // graph and subtracted once per sorted triple, so final counts ==
    // the one-shot triangle SQL over the SURVIVING pairs (hash oracle).
    "s46b_triangle_retraction" -> ((s, dir) => {
      val pairs = graft.ops.Graphs.copartPairs(s, dir)
        .transform(graft.ops.Checkpoints.cut)
      def slice(i: Int) =
        pairs.filter(pmod(xxhash64(col("x"), col("y")), lit(3)) === i)
      val none = pairs.limit(0)
      var st = Streams.triInit(pairs)
      (0 to 2).foreach { i => st = Streams.triApplyDelta(st, slice(i), none) }
      val dels = pairs.filter((col("x") + col("y")) % 5 === 0)
      (1 to 2).foreach { _ => // second application replays: idempotent
        st = Streams.triApplyDelta(st, none, dels)
      }
      st.counts.orderBy("id")
    }),

    // S47 — maintained SEMANTIC near-dup clusters THROUGH the persisted
    // IVF index (r19): the vector-side sibling of s45 with the index AS
    // the substrate — batch 0 BUILDS it (bootstrap centroids, the s42
    // drift refresh is the recalibration path), later batches APPEND
    // (fixed centroids → time-invariant assignment → exactly-once pair
    // discovery), each batch's incremental within-bucket cosine pairs
    // (SimIndex.ivfPairsForIds) fold through the quotient-CC merge.
    // Final labels == one-shot clusters over the index's own pair set;
    // engine-only (seeded kmeans), rows-checked — the per-batch gates
    // live in SimIndexSpec through a real foreachBatch.
    "s47_vecdup_maintenance" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val prefix = "graft_s47_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.ops.SimIndex.dropIndex(s, prefix)
      var st = Streams.vecDupInit(s)
      (0 to 2).foreach { i =>
        st = Streams.vecDupApplyBatch(s, st,
          v.filter(col("vec_id") % 3 === i), prefix,
          threshold = 0.4, k = 8, nprobe = 2, buckets = 8)
      }
      st = Streams.vecDupApplyBatch(s, st, v.filter(col("vec_id") % 3 === 2),
        prefix, 0.4, 8, 2, 8) // replay: no-op
      st.labels.select(col("id").as("vec_id"),
        col("component").as("cluster_id")).orderBy("vec_id")
    }),

    // S47b — semantic maintenance WITH RETRACTIONS (r19): the s47 fold
    // plus a 4th batch ERASING every vec_id ≡ 7 (mod 10) by row image
    // (deleteFromIvfIndex tombstones the index; incident edges re-color
    // through the bounded decremental fold), the delete REPLAYED
    // (idempotent). Final labels == one-shot clusters over the
    // SURVIVING index read (ivfPairsFromIndex anti-joins the same
    // tombstones).
    "s47b_vecdup_retraction" -> ((s, dir) => {
      val v = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val prefix = "graft_s47b_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.ops.SimIndex.dropIndex(s, prefix)
      var st = Streams.vecDupInit(s)
      (0 to 2).foreach { i =>
        st = Streams.vecDupApplyBatch(s, st,
          v.filter(col("vec_id") % 3 === i), prefix,
          threshold = 0.4, k = 8, nprobe = 2, buckets = 8)
      }
      val dels = v.filter(col("vec_id") % 10 === 7)
      (1 to 2).foreach { _ => // second application replays: idempotent
        st = Streams.vecDupApplyDelete(s, st, dels, prefix)
      }
      st.labels.select(col("id").as("vec_id"),
        col("component").as("cluster_id")).orderBy("vec_id")
    }),

    // S48 — maintained ENSEMBLE dedup clusters (r19): l61's
    // multi-signal fusion LIVE — per batch, the s45 capped-text delta
    // and the s47 index-vector delta fold their new edges into ONE
    // shared label table through a single quotient-CC merge (CC is
    // confluent, so interleaving order can't matter). The production
    // read a curation service keeps next to its index: a paraphrase
    // merges via its embedding, a verbatim copy via its text, as both
    // ARRIVE. Engine-only (seeded MinHash + kmeans), rows-checked; the
    // per-batch one-shot-equality gates (uncapped) live in
    // StreamingSpec.
    "s48_ensemble_maintenance" -> ((s, dir) => {
      graft.functions.VecFunctions.ensureRegistered(s)
      val d = Tables.load(s, dir, "documents")
      val v = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val prefix = "graft_s48_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.ops.SimIndex.dropIndex(s, prefix)
      var st = Streams.ensembleInit(s, d, 3, 32, 16)
      def fold(i: Int): Unit =
        st = Streams.ensembleApplyBatch(s, st,
          d.filter(col("doc_id") % 3 === i),
          v.filter(col("vec_id") % 3 === i),
          3, 32, 16, 0.42, 0.6, 64, prefix, 0.4, 8, 2, 8)
      (0 to 2).foreach(fold)
      fold(2) // replay: a no-op for BOTH signals
      st.labels.select(col("id").as("doc_id"),
        col("component").as("cluster_id")).orderBy("doc_id")
    }),

    // S48b — ensemble maintenance WITH RETRACTIONS (r19): the s48 fold
    // plus a 4th batch ERASING every id ≡ 7 (mod 10) from BOTH signals
    // (docs by id, vectors by row image), REPLAYED (idempotent); the
    // shared label table re-colors once over the union of incident
    // edges.
    "s48b_ensemble_retraction" -> ((s, dir) => {
      graft.functions.VecFunctions.ensureRegistered(s)
      val d = Tables.load(s, dir, "documents")
      val v = Tables.load(s, dir, "embeddings").select("vec_id", "embedding")
      val prefix = "graft_s48b_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.ops.SimIndex.dropIndex(s, prefix)
      var st = Streams.ensembleInit(s, d, 3, 32, 16)
      (0 to 2).foreach { i =>
        st = Streams.ensembleApplyBatch(s, st,
          d.filter(col("doc_id") % 3 === i),
          v.filter(col("vec_id") % 3 === i),
          3, 32, 16, 0.42, 0.6, 64, prefix, 0.4, 8, 2, 8)
      }
      (1 to 2).foreach { _ => // second application replays: idempotent
        st = Streams.ensembleApplyDelete(s, st,
          d.filter(col("doc_id") % 10 === 7),
          v.filter(col("vec_id") % 10 === 7), prefix)
      }
      st.labels.select(col("id").as("doc_id"),
        col("component").as("cluster_id")).orderBy("doc_id")
    }),

    // S41 — streaming budget-selection maintenance (NEW r14): l54's
    // score histogram maintained through 3 batch-id-stamped partial
    // batches (doc_id mod 3), one REPLAYED; the selection threshold is
    // computed from the MAINTAINED histogram and the result must equal
    // the one-shot l54 exactly (same oracle).
    "s41_budget_maintenance" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      var state = Streams.scoreBucketPartials(d.limit(0), -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeScoreBucketPartials(state,
          d.filter(col("doc_id") % 3 === i), i.toLong)
      }
      // replayed batch: REPLACES its own rows — a no-op by construction
      state = Streams.mergeScoreBucketPartials(state,
        d.filter(col("doc_id") % 3 === 2), 2L)
      graft.ops.Text.selectAgainstBuckets(graft.ops.Text.scored(d),
          Streams.scoreBucketsFromPartials(state), budgetDenom = 5L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_selected"),
          sum("n_toks").as("sel_tokens"))
        .orderBy("source")
    }),

    "s23_importance_maintenance" -> ((s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val tgt = col("lang") === "en"
      val b = 4096
      var state = Streams.importancePartials(d.limit(0), tgt, b, -1L)
      (0 to 2).foreach { i =>
        state = Streams.mergeImportancePartials(state,
          d.filter(col("doc_id") % 3 === i), tgt, b, i.toLong)
      }
      // replayed batch: REPLACES its own rows — a no-op by construction
      state = Streams.mergeImportancePartials(state,
        d.filter(col("doc_id") % 3 === 2), tgt, b, 2L)
      val scores = graft.ops.Text.bucketScores(
        Streams.statsFromPartials(state), b)
      graft.ops.Text.weightsFromScores(d, tgt, b, scores)
        .orderBy("doc_id")
    }),

    // S22 — streaming heavy hitters (space-saving, m = 8 counters per
    // event type over the user stream): bounded sketch state no matter
    // how many distinct users flow — engine-only (the fold is
    // order-dependent by design; a SQL replay would be a 150k-row
    // recursive CTE), rows-only check; the sketch guarantees
    // (est >= true >= est - err, exact-while-unevicted, dominant
    // survivor, stream == batch) are gated in StreamingSpec.
    "s22_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val in = ev(s, dir)
        .select(col("event_type").as("gkey"), col("user_id").as("item"),
          graft.Det.epochUs(col("ts")).as("ts_us"), col("event_id"))
        .as[Streams.SsEv]
      Streams.heavyHittersBatch(in, m = 8).toDF()
        .orderBy(col("gkey"), desc("est"), col("item"))
    }),

    // S21 — streaming SCD2 maintenance: the T07 merge driven through
    // the foreachBatch CDC-apply path — an EMPTY history folded over
    // the Jan-10 and Jan-20 snapshots stamped in one multi-stamp batch
    // (first stamp seeds via insert-open, exactly scd2Init's rows).
    // Held to t07's oracle; replay idempotence and the streaming run
    // are in StreamingSpec.
    "s21_scd2_maintenance" -> ((s, dir) => {
      import graft.ops.Temporal
      val t1Us = 1704844800000000L // 2024-01-10 00:00:00 UTC
      val t2Us = 1705708800000000L // 2024-01-20 00:00:00 UTC
      def snap(t: String) =
        Temporal.snapshot(ev(s, dir), entity = "user_id", ts = "ts",
            t = lit(t).cast("timestamp"), tieBreak = "event_id")
          .select(col("user_id"), graft.Det.cents(col("value")).as("value_cents"))
      val stamped = snap("2024-01-10 00:00:00")
        .withColumn("snap_us", lit(t1Us))
        .unionByName(snap("2024-01-20 00:00:00")
          .withColumn("snap_us", lit(t2Us)))
      val empty = Temporal.scd2Init(snap("2024-01-10 00:00:00").limit(0), t1Us)
      Streams.scd2ApplyBatch(empty, stamped, "user_id", Seq("value_cents"))
        .orderBy("user_id", "valid_from_us")
    }),

    // S12 — incremental temporal earliest-arrival. The streaming form
    // (Streams.earliestArrivalStream) is asserted equal in StreamingSpec
    // to the batch recomputation by the test-scope GraphX twin; THIS
    // batch twin is the DataFrame-frontier earliest-arrival traversal
    // (G10's seed and bounds) in the S12 output shape
    // (event_id, arrival_us), hash-checked against DuckDB.
    "s12_incremental_arrival" -> ((s, dir) => {
      val e = ev(s, dir)
      val seedRow = e.orderBy("event_id")
        .select(col("event_id"), graft.Det.epochUs(col("ts"))).head()
      graft.ops.Graphs.earliestArrival(s, graft.ops.Graphs.sessionEdges(s, dir),
          seedRow.getLong(0), seedRow.getLong(1), maxHops = 8)
        .select(col("id").as("event_id"), col("arrival_us"))
        .orderBy("event_id")
    })
  )

  val oracles: Map[String, String] = Map(
    "s01_tumbling_counts" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS ws,
        |  event_type, count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s02_sliding_sum" ->
      """WITH g AS (SELECT event_type, value, ts, unnest([0,1,2,3]) AS k
        |           FROM events)
        |SELECT CAST(TIMESTAMP '1970-01-01'
        |    + INTERVAL 1 SECOND * CAST(floor(epoch(ts)/900)*900 AS BIGINT)
        |    - INTERVAL 15 MINUTE * CAST(k AS INT) AS TIMESTAMP) AS ws,
        |  event_type,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "s03_session_window" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id)
        |              >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        | s AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT CAST(min(ts) AS TIMESTAMP) AS session_start, user_id,
        |  count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "s05_dedup" ->
      """SELECT event_type, count(*) AS n_rows FROM events
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s09_list_state_lastk" ->
      """WITH ranked AS (
        |  SELECT user_id, CAST(round(value*100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events)
        |SELECT user_id, count(*) AS n_recent,
        |  CAST(sum(cents) AS BIGINT) AS recent_cents
        |FROM ranked WHERE rn <= 5
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s10_map_state_counts" ->
      """SELECT user_id, event_type, count(*) AS n FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // s24 is q38's WAU curve through the streaming plan — same oracle.
    "s24_streaming_wau" ->
      graft.queries.Relational.oracles("q38_rolling_distinct"),

    // s28 collapses to t19's spans in batch — same oracle.
    "s28_streaming_coalesce" ->
      graft.queries.TemporalQueries.oracles("t19_coalesce_intervals"),

    // s27's maintained labels must equal the one-shot CC.
    "s27_incremental_cc" ->
      graft.queries.GraphQueries.oracles("g06_connected_components"),

    // s43's maintained labels must equal the one-shot restless read.
    "s43_restless_maintenance" ->
      graft.queries.GraphQueries.oracles("g45_restless_arrival"),

    // s43b: the one-shot restless walk replay over the SURVIVING edges
    // — g45's enumeration with the deleted slice ((src+dst) % 20 == 0)
    // filtered out of the walkable edge set, seeds still taken from the
    // FULL edge set (fixed anchors, the maintained fold's contract).
    "s43b_restless_retraction" ->
      s"""WITH RECURSIVE e0 AS (
        |  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst,
        |      epoch_us(CAST(a.l_shipdate AS TIMESTAMP)) AS dep,
        |      epoch_us(CAST(b.l_shipdate AS TIMESTAMP)) AS arr
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
        |  WHERE b.l_shipdate > a.l_shipdate),
        |seeds AS (SELECT dst, arr FROM e0
        |          ORDER BY dep, src, dst, arr LIMIT 10),
        |e AS (SELECT * FROM e0 WHERE (src + dst) % 20 <> 0),
        |walk(id, arr, dd) AS (
        |  SELECT dst, arr, 1 FROM seeds
        |  UNION
        |  SELECT e.dst, e.arr, walk.dd + 1 FROM walk JOIN e ON e.src = walk.id
        |  WHERE walk.dd < 4 AND e.dep >= walk.arr
        |    AND e.dep <= walk.arr + ${30L * 86400L * 1000000L})
        |SELECT id AS p_partkey, min(arr) AS arrival_us FROM walk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // s46: the one-shot per-vertex triangle counts over the full
    // co-part pair set (the tv half of g27's oracle).
    "s46_triangle_maintenance" ->
      """WITH ok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |       HAVING count(DISTINCT l_partkey) <= 3),
        |pairs AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |          FROM lineitem a JOIN lineitem b
        |            ON a.l_orderkey = b.l_orderkey
        |           AND a.l_partkey < b.l_partkey
        |          WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)),
        |tri AS (SELECT ab.x AS a, ab.y AS b, bc.y AS c
        |  FROM pairs ab
        |  JOIN pairs bc ON ab.y = bc.x
        |  JOIN pairs ac ON ac.x = ab.x AND ac.y = bc.y)
        |SELECT id, count(*) AS n_triangles FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1 ORDER BY 1""".stripMargin,

    // s46b: the same read over the SURVIVING pairs ((x+y) % 5 <> 0).
    "s46b_triangle_retraction" ->
      """WITH ok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |       HAVING count(DISTINCT l_partkey) <= 3),
        |pairs0 AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |          FROM lineitem a JOIN lineitem b
        |            ON a.l_orderkey = b.l_orderkey
        |           AND a.l_partkey < b.l_partkey
        |          WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)),
        |pairs AS (SELECT x, y FROM pairs0 WHERE (x + y) % 5 <> 0),
        |tri AS (SELECT ab.x AS a, ab.y AS b, bc.y AS c
        |  FROM pairs ab
        |  JOIN pairs bc ON ab.y = bc.x
        |  JOIN pairs ac ON ac.x = ab.x AND ac.y = bc.y)
        |SELECT id, count(*) AS n_triangles FROM (
        |    SELECT a AS id FROM tri
        |    UNION ALL SELECT b FROM tri
        |    UNION ALL SELECT c FROM tri) GROUP BY 1 ORDER BY 1""".stripMargin,

    // s27b: the one-shot CC over the SURVIVING tree edges — g06's
    // recursive walk over the binary part hierarchy minus the severed
    // children (child % 20 == 0).
    "s27b_cc_retraction" ->
      """WITH RECURSIVE p AS (
        |  SELECT CAST(p_partkey AS BIGINT) AS id FROM part),
        |kept AS (SELECT id // 2 AS x, id AS y FROM p
        |         WHERE id >= 2 AND id // 2 IN (SELECT id FROM p)
        |           AND id % 20 <> 0),
        |e AS (SELECT x AS src, y AS dst FROM kept
        |      UNION ALL SELECT y, x FROM kept),
        |nodes AS (SELECT DISTINCT src AS id FROM e),
        |walk(id, lbl) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, walk.lbl FROM walk JOIN e ON e.src = walk.id)
        |SELECT id AS p_partkey, min(lbl) AS component FROM walk
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // s26's per-user truths aggregate to q33's stage counts.
    "s26_streaming_funnel" ->
      graft.queries.Relational.oracles("q33_funnel"),

    // s25 collapses to t24's bars in batch — same oracle.
    "s25_streaming_ohlc" ->
      graft.queries.TemporalQueries.oracles("t24_ohlc_bars"),

    // s23 must reproduce l29's one-shot weights from maintained stats.
    "s23_importance_maintenance" ->
      graft.queries.LlmQueries.oracles("l29_importance_weights"),

    // s38 must reproduce l50's one-shot scores from the maintained model.
    "s38_bigram_lm_maintenance" ->
      graft.queries.LlmQueries.oracles("l50_bigram_xent"),

    // s40 must reproduce l52's one-shot span cut from the maintained
    // duplicate-shingle index — same oracle verbatim.
    "s40_span_cut_maintenance" ->
      graft.queries.LlmQueries.oracles("l52_span_cut"),

    // s41 must reproduce l54's one-shot selection from the maintained
    // score histogram — same oracle verbatim.
    "s41_budget_maintenance" ->
      graft.queries.LlmQueries.oracles("l54_budget_select"),

    // s39 emits q59's match rows through the streaming twin — same
    // oracle verbatim.
    "s39_stream_match_rows" ->
      graft.queries.Relational.oracles("q59_pattern_match_rows"),

    // s35 must reproduce t38's percentile index from maintained partials.
    "s35_percentile_maintenance" ->
      graft.queries.TemporalQueries.oracles("t38_percentile_index"),

    // s37: one-shot PSI replay from raw events — t38's bucketing CTE,
    // two period re-aggs, dense 0..26 domain, add-one-smoothed PSI.
    // The (p−q)·ln(p/q) expression order mirrors the engine exactly;
    // round(4) on the ≤27-term sum absorbs ULP noise.
    "s37_drift_psi" ->
      """WITH raw AS (SELECT event_type,
        |    CAST(round(value*100) AS BIGINT) AS v,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        |  FROM events),
        |bk AS (SELECT event_type, day,
        |    CAST(CASE WHEN v < 0 THEN 0 WHEN v >= 50000 THEN 26
        |         ELSE 1 + v // 2000 END AS BIGINT) AS bucket
        |  FROM raw),
        |ref AS (SELECT event_type, bucket, count(*) AS c_ref FROM bk
        |  WHERE day BETWEEN TIMESTAMP '2024-01-01'
        |    AND TIMESTAMP '2024-01-14'
        |  GROUP BY 1, 2),
        |live AS (SELECT event_type, bucket, count(*) AS c_live FROM bk
        |  WHERE day BETWEEN TIMESTAMP '2024-01-15'
        |    AND TIMESTAMP '2024-01-30'
        |  GROUP BY 1, 2),
        |ents AS (SELECT event_type FROM ref
        |  UNION SELECT event_type FROM live),
        |dom AS (SELECT e.event_type, CAST(b.b AS BIGINT) AS bucket
        |  FROM ents e CROSS JOIN (SELECT unnest(range(0, 27)) AS b) b),
        |cts AS (SELECT d.event_type, d.bucket,
        |    coalesce(r.c_ref, 0) AS c_ref, coalesce(l.c_live, 0) AS c_live
        |  FROM dom d LEFT JOIN ref r USING (event_type, bucket)
        |             LEFT JOIN live l USING (event_type, bucket)),
        |tot AS (SELECT event_type, CAST(sum(c_ref) AS BIGINT) AS n_ref,
        |    CAST(sum(c_live) AS BIGINT) AS n_live FROM cts GROUP BY 1)
        |SELECT c.event_type, t.n_ref, t.n_live,
        |  round(sum((CAST(c_ref + 1 AS DOUBLE) / (n_ref + 27) -
        |             CAST(c_live + 1 AS DOUBLE) / (n_live + 27)) *
        |            ln((CAST(c_ref + 1 AS DOUBLE) / (n_ref + 27)) /
        |               (CAST(c_live + 1 AS DOUBLE) / (n_live + 27)))), 4)
        |    AS psi_r4
        |FROM cts c JOIN tot t USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,

    // s32 is q51's regression from maintained partials — same oracle.
    "s32_streaming_trend" ->
      graft.queries.Relational.oracles("q51_trend_slope"),

    // s31 is t30's semi-additive curve from maintained state — same oracle.
    "s31_streaming_eod" ->
      graft.queries.TemporalQueries.oracles("t30_eop_balance"),

    // s30 is q34's retention cohorts from maintained state — same oracle.
    "s30_streaming_retention" ->
      graft.queries.Relational.oracles("q34_retention"),

    // s29 is t17's gap detection through the streaming fold — same oracle.
    "s29_streaming_gaps" ->
      graft.queries.TemporalQueries.oracles("t17_gap_detect"),

    // s21 is the t07 merge through the CDC-apply path — same oracle.
    "s21_scd2_maintenance" ->
      graft.queries.TemporalQueries.oracles("t07_scd2_merge"),

    // s36/s36b run q57/q57d's machines through the streaming twin in a
    // one-batch fold — same final snapshots, same oracles verbatim.
    "s36_stream_patterns" ->
      graft.queries.Relational.oracles("q57_pattern_funnel"),
    "s36b_stream_quant_patterns" ->
      graft.queries.Relational.oracles("q57d_pattern_quantified"),

    // s36d/s36e run the WITHIN-bounded machines (q57c/q57e) through the
    // streaming twins in a one-batch fold — same oracles verbatim.
    "s36d_stream_within_patterns" ->
      graft.queries.Relational.oracles("q57c_pattern_within"),
    "s36e_stream_quant_within" ->
      graft.queries.Relational.oracles("q57e_pattern_quant_within"),

    // s36f runs q57f's re-anchoring machine through the streaming twin
    // in a one-batch fold — same oracle verbatim.
    "s36f_stream_reanchor" ->
      graft.queries.Relational.oracles("q57f_pattern_reanchor"),

    // q10's as-of semantics with the no-match null coalesced to -1.
    "s20_stream_asof" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts, max(event_id) AS click_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |  coalesce((SELECT max_by(c.click_id, c.ts) FROM c
        |            WHERE c.user_id = p.user_id AND c.ts <= p.ts), -1)
        |    AS click_id
        |FROM p ORDER BY p.event_id""".stripMargin,

    // t33's oracle stopped before the channel rollup: per-purchase
    // attribution rows, same strictly-earlier HUGEINT max_by key.
    "s33_stream_attribution" ->
      """WITH p AS (SELECT user_id, ts, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts, event_id, event_type FROM events
        |      WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.event_id, p.cents,
        |    max_by(t.event_type,
        |      CAST(epoch_us(CAST(t.ts AS TIMESTAMP)) AS HUGEINT) * 10000000
        |        + t.event_id) AS lt
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id
        |    AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
        |    AND epoch_us(CAST(t.ts AS TIMESTAMP))
        |        >= epoch_us(CAST(p.ts AS TIMESTAMP)) - 604800000000
        |  GROUP BY p.event_id, p.cents)
        |SELECT event_id, coalesce(lt, 'direct') AS channel, cents
        |FROM j ORDER BY event_id""".stripMargin,

    "s08_transform_with_state" ->
      """SELECT user_id, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "s07_stream_static_join" ->
      """WITH seg AS (SELECT c_custkey % 50 AS user_id,
        |    min(c_mktsegment) AS segment
        |  FROM customer GROUP BY 1)
        |SELECT coalesce(seg.segment, 'NONE') AS segment, count(*) AS n_events
        |FROM events e LEFT JOIN seg ON e.user_id = seg.user_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "s11_timer_sessions" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |     s AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
        |  epoch_us(CAST(max(ts) AS TIMESTAMP)) AS end_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, start_us""".stripMargin,

    "s13_stream_stream_join" ->
      """SELECT v.event_id AS view_id, p.event_id AS purchase_id,
        |  v.user_id,
        |  epoch_us(CAST(p.ts AS TIMESTAMP))
        |    - epoch_us(CAST(v.ts AS TIMESTAMP)) AS delta_us
        |FROM events v JOIN events p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |WHERE v.event_type = 'view' AND p.event_type = 'purchase'
        |ORDER BY view_id, purchase_id""".stripMargin,

    "s13b_stream_outer_join" ->
      """SELECT v.event_id AS view_id,
        |  coalesce(p.event_id, -1) AS purchase_id, v.user_id,
        |  coalesce(epoch_us(CAST(p.ts AS TIMESTAMP))
        |    - epoch_us(CAST(v.ts AS TIMESTAMP)), -1) AS delta_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,

    // s06 replay: per user, prefix window (everything strictly before
    // this event in event_id order) gives the exact integer moments
    // (n, S = Σcents, Q = Σcents²); the 3σ flag is the integer
    // inequality d > 0 ∧ d²(n−1) > 9n(nQ − S²) with d = n·v − S —
    // identical to Streams.anomalyStep. The two big products run in
    // HUGEINT (they pass 2^63 at fixture scale, as the engine's BigInt
    // comparison does).
    "s06_anomaly_flags" ->
      """WITH c AS (
        |  SELECT event_id, user_id,
        |    CAST(round(value*100) AS BIGINT) AS v,
        |    count(*) OVER w AS n,
        |    CAST(coalesce(sum(CAST(round(value*100) AS BIGINT)) OVER w,
        |         0) AS BIGINT) AS s,
        |    CAST(coalesce(sum(CAST(round(value*100) AS BIGINT)
        |           * CAST(round(value*100) AS BIGINT)) OVER w,
        |         0) AS BIGINT) AS q
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT event_id, user_id FROM c
        |WHERE n >= 2 AND n * v - s > 0
        |  AND CAST(n * v - s AS HUGEINT) * (n * v - s) * (n - 1)
        |      > 9 * CAST(n AS HUGEINT) * (CAST(n AS HUGEINT) * q
        |                                  - CAST(s AS HUGEINT) * s)
        |ORDER BY event_id""".stripMargin,

    "s17_stream_full_outer" ->
      """SELECT coalesce(v.event_id, -1) AS view_id,
        |  coalesce(p.event_id, -1) AS purchase_id,
        |  coalesce(v.user_id, p.user_id) AS user_id,
        |  coalesce(epoch_us(CAST(p.ts AS TIMESTAMP))
        |    - epoch_us(CAST(v.ts AS TIMESTAMP)), -1) AS delta_us
        |FROM (SELECT * FROM events WHERE event_type = 'view') v
        |FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
        |  ON v.user_id = p.user_id
        | AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE
        |ORDER BY view_id, purchase_id""".stripMargin,

    "s16_latest_state" ->
      """SELECT user_id, event_id AS last_event_id,
        |  CAST(ts AS TIMESTAMP) AS last_ts,
        |  CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM (SELECT user_id, event_id, ts, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "s15_stream_semi_join" ->
      """SELECT v.event_id AS view_id, v.user_id,
        |  CAST(v.ts AS TIMESTAMP) AS view_ts
        |FROM events v
        |WHERE v.event_type = 'view' AND EXISTS (
        |  SELECT 1 FROM events p
        |  WHERE p.event_type = 'purchase' AND p.user_id = v.user_id
        |    AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 30 MINUTE)
        |ORDER BY view_id""".stripMargin,

    "s14_interval_maintenance" ->
      """SELECT user_id, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS valid_from_us,
        |  epoch_us(CAST(next_ts AS TIMESTAMP)) AS valid_to_us,
        |  CAST(round(value*100) AS BIGINT) AS cents
        |FROM (SELECT user_id, event_id, ts, value,
        |        lead(ts) OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS next_ts
        |      FROM events)
        |WHERE next_ts IS NOT NULL
        |ORDER BY user_id, valid_from_us, event_id""".stripMargin,

    // S18 replay: the l07 simhash replay (per-token md5Long, majority
    // vote per bit), bands as 15-bit slices (signed >> then mask —
    // identical to the engine's shiftright+AND since the mask keeps only
    // the sliced bits), then dup ⟺ a smaller doc_id shares a bucket ⟺
    // doc_id > min(doc_id) over any of its (band, bits) groups.
    "s18_neardup_gate" -> {
      val tokHash = graft.Det.duckMd5Long("t")
      val ws = graft.ops.Text.GopherWhitespace
      val bitTerms = (0 until 60).map { b =>
        s"CASE WHEN 2 * len(list_filter(hs, h -> ((h >> $b) & 1) = 1)) " +
          s"> len(hs) THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END"
      }.mkString("\n    + ")
      s"""WITH toks AS (SELECT doc_id,
        |    list_transform(regexp_extract_all(text, '[^$ws]+'),
        |      t -> $tokHash) AS hs
        |  FROM documents),
        |sh AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS simhash
        |       FROM toks),
        |b AS (SELECT doc_id, band,
        |        (simhash >> (15 * band)) & 32767 AS bits
        |      FROM sh, (SELECT unnest([0, 1, 2, 3]) AS band)),
        |m AS (SELECT doc_id,
        |        min(doc_id) OVER (PARTITION BY band, bits) AS mn
        |      FROM b)
        |SELECT doc_id, bool_or(doc_id > mn) AS dup
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "s12_incremental_arrival" ->
      """WITH o AS (SELECT event_id, user_id, ts,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS rn
        |  FROM events),
        |  s AS (SELECT user_id, rn FROM o
        |        WHERE event_id = (SELECT min(event_id) FROM events))
        |SELECT o.event_id, epoch_us(CAST(o.ts AS TIMESTAMP)) AS arrival_us
        |FROM o JOIN s ON o.user_id = s.user_id
        |WHERE o.rn >= s.rn AND o.rn <= s.rn + 8
        |ORDER BY o.event_id""".stripMargin
  )
}
