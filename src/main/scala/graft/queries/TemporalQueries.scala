package graft.queries

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{AsOfJoin, Temporal}

/** Temporal surface (SURVEY.md §2.3 T01–T06 + Q10): the reference's
  * signature capability — piecewise-constant temporal properties over the
  * `events` change-point stream (per-user property "value"), re-expressed
  * as window/as-of plans.
  */
object TemporalQueries {
  import Det._

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "events")

  /** The events table persisted ONCE per (session, sf dir) as a managed
    * parquet table partitioned by event day — the 100 TB layout (SURVEY
    * §7 phase 6). t16/t16b read through this; PlanShapeSpec asserts
    * their scans actually prune (static + dynamic partition pruning).
    */
  private def eventsByDay(s: SparkSession, dir: String): DataFrame =
    graft.ops.Bucketing.dayPartitionedTable(s,
      "graft_events_day_" + dir.replaceAll("[^A-Za-z0-9]", "_"), "ts")(
      ev(s, dir))

  /** The 45-minute hold intervals shared by t19/t19b/t20/t21: each
    * event opens [ts, ts+45m) for its user.
    */
  private def holds45(s: SparkSession, dir: String): DataFrame =
    ev(s, dir).select(col("user_id"), col("event_id"),
      col("ts").as("hold_start"),
      (col("ts") + expr("interval 45 minutes")).as("hold_end"))

  /** Shared inputs for the q10/q10b pair: each purchase probes for the
    * most recent at-or-before click of the same user.
    */
  private def purchasesAndClicks(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val e = ev(s, dir)
    (e.filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts"),
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id")))
  }

  private def q10Shape(asof: (DataFrame, DataFrame) => DataFrame)(
      s: SparkSession, dir: String): DataFrame = {
    val (purchases, clicks) = purchasesAndClicks(s, dir)
    asof(purchases, clicks)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("click_id_asof").as("click_id"))
      .orderBy("event_id")
  }

  /** t23/t26 shared dense daily series: per-type daily counts with
    * missing days as explicit zeros (spine = 1-row bounds agg ×
    * broadcast type dim; the event table aggregates BEFORE the spine
    * join, so the join touches |days × types| rows, never |events|).
    */
  private def denseDaily(s: SparkSession, dir: String): DataFrame = {
    val daily = ev(s, dir)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val bounds = ev(s, dir)
      .agg(date_trunc("day", min(col("ts"))).as("lo"),
        date_trunc("day", max(col("ts"))).as("hi"))
    val types = ev(s, dir).select("event_type").distinct()
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
      .crossJoin(broadcast(types))
    spine.join(daily, Seq("day", "event_type"), "left")
      .select(col("day"), col("event_type"),
        coalesce(col("n"), lit(0L)).as("n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q10 — as-of join: each purchase event -> most recent at-or-before
    // click of the same user (tie on ts -> max event_id). Single-shuffle
    // union+window implementation, not a nested-loop.
    "q10_asof_join" -> (q10Shape((p, c) =>
      AsOfJoin(p, c, on = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("click_id"), tieBreak = "click_id")) _),

    // Q10b — the SAME query through the custom Catalyst sort-merge
    // operator (AsOfJoinNode -> AsOfMergeJoinExec); hash-checked against
    // the identical oracle, proving the two implementations agree.
    "q10b_asof_merge" -> (q10Shape((p, c) =>
      AsOfJoin.merge(p, c, on = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        payload = Seq("click_id"), tieBreak = "click_id")) _),

    // Q10e — the SAME q10 query driven entirely from SQL TEXT through the
    // asof_join table-valued function (graft.functions.TableFunctions):
    // a pure-SQL session invoking the engine's signature operator, which
    // plans the custom AsOfJoinNode sort-merge exactly like q10b. Held to
    // the identical oracle as q10/q10b.
    "q10e_asof_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      purchases.createOrReplaceTempView("graft_q10e_purchases")
      clicks.createOrReplaceTempView("graft_q10e_clicks")
      s.sql("""SELECT event_id, user_id, ts, click_id_asof AS click_id
        |FROM asof_join('graft_q10e_purchases', 'graft_q10e_clicks',
        |               'user_id', 'ts', 'ts', 'click_id', 'click_id')
        |ORDER BY event_id""".stripMargin)
    }),

    // Q10c — FORWARD as-of join: each purchase -> the EARLIEST at-or-after
    // click of the same user (tie on ts -> min event_id). Same
    // single-shuffle union+window plan scanning a forward frame.
    "q10c_asof_forward" -> ((s, dir) => {
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      AsOfJoin.forward(purchases, clicks, on = Seq("user_id"),
          leftTs = "ts", rightTs = "ts", payload = Seq("click_id"),
          tieBreak = "click_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_id_fwd").as("click_id"))
        .orderBy("event_id")
    }),

    // Q10f — as-of join WITH TOLERANCE: the q10 backward probe, but a
    // click more than 1 hour stale is no match at all (null, NOT a
    // fall-back to an even older click — pandas merge_asof tolerance
    // semantics, applied after the pick). Completes the merge_asof
    // surface: backward / forward / nearest / tolerance.
    "q10f_asof_tolerance" -> ((s, dir) => {
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      AsOfJoin.tolerance(purchases, clicks, on = Seq("user_id"),
          leftTs = "ts", rightTs = "ts", payload = Seq("click_id"),
          tieBreak = "click_id", toleranceUs = 3600L * 1000000L)
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_id_asof").as("click_id"))
        .orderBy("event_id")
    }),

    // Q10d — NEAREST as-of join: the closer of the backward and forward
    // candidates, exact ties going backward (pandas merge_asof
    // direction="nearest" semantics).
    "q10d_asof_nearest" -> ((s, dir) => {
      val (purchases, clicks) = purchasesAndClicks(s, dir)
      AsOfJoin.nearest(purchases, clicks, on = Seq("user_id"),
          leftTs = "ts", rightTs = "ts", payload = Seq("click_id"),
          tieBreak = "click_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("click_id_near").as("click_id"))
        .orderBy("event_id")
    }),

    // T18 — snapshot DIFF: the per-user delta between the 2024-01-10
    // state and the 2024-01-15 state — 'insert' for users first seen in
    // between, 'update' for changed values, unchanged users omitted.
    // Exact integer cents, so the delta feed hash-matches the DuckDB
    // two-snapshot replay.
    "t18_snapshot_diff" -> ((s, dir) => {
      val changes = ev(s, dir).select(col("user_id"), col("ts"),
        col("event_id"), cents(col("value")).as("val_cents"))
      Temporal.snapshotDiff(changes, entity = Seq("user_id"), ts = "ts",
          t1 = lit("2024-01-10 00:00:00").cast("timestamp"),
          t2 = lit("2024-01-15 00:00:00").cast("timestamp"),
          tieBreak = "event_id", valueCols = Seq("val_cents"))
        .orderBy("user_id")
    }),

    // T01 — snapshot: every user's property value as of t (latest change
    // point at-or-before t).
    "t01_snapshot" -> ((s, dir) => {
      Temporal.snapshot(ev(s, dir), entity = "user_id", ts = "ts",
          t = lit("2024-01-15 00:00:00").cast("timestamp"),
          tieBreak = "event_id")
        .select(col("user_id"), cents(col("value")).as("val_cents"))
        .orderBy("user_id")
    }),

    // T01b — the same snapshot read from pure SQL text via the snapshot
    // TVF; identical oracle to t01.
    "t01b_snapshot_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      ev(s, dir).createOrReplaceTempView("graft_t01b_events")
      s.sql("""SELECT user_id, CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM snapshot('graft_t01b_events', 'user_id', 'ts',
        |              '2024-01-15 00:00:00', 'event_id')
        |ORDER BY user_id""".stripMargin)
    }),

    // T14 — MULTI-KEY snapshot: the reference's store shape is
    // (entity_id, prop_key, ts, value) — SURVEY §1.2 — so the read
    // surface must partition by BOTH columns, not by a hand-concatenated
    // composite. Here (user_id, event_type) plays (entity, prop_key):
    // each pair reads its latest change point at-or-before t — the
    // getTemporalProperty(key, t) call re-expressed over the Seq-keyed
    // snapshot. Same single-shuffle window plan, keyed on two columns.
    "t14_multikey_snapshot" -> ((s, dir) => {
      Temporal.snapshot(ev(s, dir), entity = Seq("user_id", "event_type"),
          ts = "ts", t = lit("2024-01-15 00:00:00").cast("timestamp"),
          tieBreak = "event_id")
        .select(col("user_id"), col("event_type"),
          cents(col("value")).as("val_cents"))
        .orderBy("user_id", "event_type")
    }),

    // T14b — the multi-key snapshot from pure SQL text: the snapshot
    // TVF's entity argument is a CSV key list (the asof_join on_csv
    // convention), so the (entity, prop_key) read needs no Scala.
    // Identical oracle to t14.
    "t14b_multikey_snapshot_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      ev(s, dir).createOrReplaceTempView("graft_t14b_events")
      s.sql("""SELECT user_id, event_type,
        |  CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM snapshot('graft_t14b_events', 'user_id,event_type', 'ts',
        |              '2024-01-15 00:00:00', 'event_id')
        |ORDER BY user_id, event_type""".stripMargin)
    }),

    // T13 — forward-fill resample onto a daily grid: per (user, day of
    // that user's own event span), the latest value at-or-before day end
    // — the piecewise-constant temporal read on a regular grid, built ON
    // the as-of join (spine = left), not per-day subqueries.
    "t13_resample_ffill" -> ((s, dir) => {
      Temporal.resampleDaily(ev(s, dir), entity = "user_id", ts = "ts",
          value = "value", tieBreak = "event_id")
        .select(col("user_id"), col("day"),
          cents(col("value_ff")).as("val_cents"))
        .orderBy("user_id", "day")
    }),

    // T25 — daily resample with LINEAR interpolation between the
    // surrounding observations (t13's step-hold is wrong for a
    // continuously-varying signal): exact barycentric integer form —
    // see Temporal.resampleInterpolatedDaily for the trunc-vs-floor
    // reasoning. Two as-of directions over one spine; hash-matched.
    "t25_resample_interp" -> ((s, dir) => {
      Temporal.resampleInterpolatedDaily(ev(s, dir), entity = Seq("user_id"),
          ts = "ts", value = "value", tieBreak = "event_id")
        .orderBy("user_id", "day")
    }),

    // T28 — time-to-event with CENSORING (survival-analysis prep): for
    // every click, the microseconds until the same user's next purchase
    // at-or-after it — and, where no purchase ever follows, tt_us = −1
    // with censored = true rather than a dropped row: survival curves
    // are WRONG without the censored population (dropping them biases
    // the hazard toward converters). One forward as-of (union+window,
    // single user-keyed shuffle); exact integer micros.
    "t28_time_to_event" -> ((s, dir) => {
      val e = ev(s, dir)
      val clicks = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("pts"),
          col("event_id").as("p_id"))
      AsOfJoin.forward(clicks, purchases, on = Seq("user_id"),
          leftTs = "ts", rightTs = "pts", payload = Seq("pts", "p_id"),
          tieBreak = "p_id")
        .select(col("event_id"), col("user_id"), col("ts"),
          coalesce(Det.epochUs(col("pts_fwd")) - Det.epochUs(col("ts")),
            lit(-1L)).as("tt_us"),
          col("pts_fwd").isNull.as("censored"))
        .orderBy("event_id")
    }),

    // T02 — time-range read: per-user (interval, value) pairs overlapping
    // [2024-01-10, 2024-01-12).
    "t02_time_range" -> ((s, dir) => {
      Temporal.timeRange(ev(s, dir), entity = "user_id", ts = "ts",
          tieBreak = "event_id",
          t1 = lit("2024-01-10 00:00:00").cast("timestamp"),
          t2 = lit("2024-01-12 00:00:00").cast("timestamp"))
        .select(col("user_id"), col("event_id"), col("valid_from"),
          col("valid_to"), cents(col("value")).as("val_cents"))
        .orderBy("user_id", "valid_from", "event_id")
    }),

    // T03 — temporal aggregation: per-user daily tumbling average.
    // The 4-decimal average is computed ENTIRELY in integer arithmetic —
    // HALF_UP to ten-thousandths via (200·sum_cents + cnt) div (2·cnt)
    // (values are non-negative), then ONE exact division by 10^4. Neither
    // `round4(avg(value))` nor `round(sum_cents/(100.0·cnt), 4)` is
    // cross-engine deterministic: the former leaks float summation order
    // (2 of 40k groups flipped a x.xxxx5 boundary at sf0.1), the latter
    // hits Spark's decimal-HALF_UP vs DuckDB's binary-round divergence on
    // EXACT halves (53993/800 = 67.49125 → 67.4913 vs 67.4912).
    "t03_tumbling_agg" -> ((s, dir) => {
      ev(s, dir)
        .groupBy(col("user_id"), window(col("ts"), "1 day").as("w"))
        .agg(sum(cents(col("value"))).as("sum_cents"),
          count(lit(1)).as("cnt"))
        .select(col("user_id"), col("w.start").as("day"),
          (expr("(200 * sum_cents + cnt) div (2 * cnt)") / lit(10000.0))
            .as("avg_value"), col("cnt"))
        .orderBy("user_id", "day")
    }),

    // T03b — sliding-window aggregation: 7-day window, 1-day slide, max.
    "t03_sliding_agg" -> ((s, dir) => {
      ev(s, dir)
        .groupBy(col("user_id"),
          window(col("ts"), "7 days", "1 day").as("w"))
        .agg(max(cents(col("value"))).as("max_cents"))
        .select(col("user_id"), col("w.start").as("ws"), col("max_cents"))
        .orderBy("user_id", "ws")
    }),

    // T04 — entity-correlated as-of join across tables: each event joined
    // to the latest order (by o_orderdate) of its bridged customer bucket
    // (user_id = o_custkey % 50, FIXTURES.md).
    "t04_asof_orders" -> ((s, dir) => {
      val e = ev(s, dir).select("event_id", "user_id", "ts")
      val o = Tables.load(s, dir, "orders")
        .select((col("o_custkey") % 50).as("user_id"),
          col("o_orderdate"), col("o_orderkey"))
      AsOfJoin(e, o,
          on = Seq("user_id"), leftTs = "ts", rightTs = "o_orderdate",
          payload = Seq("o_orderkey"), tieBreak = "o_orderkey")
        .select(col("event_id"), col("user_id"),
          col("o_orderkey_asof").as("last_orderkey"))
        .orderBy("event_id")
    }),

    // T05 — interval-overlap join: each user-state interval × the same
    // user's error events falling inside it (equi key + range filter —
    // hash join, never nested-loop).
    "t05_interval_join" -> ((s, dir) => {
      val iv = Temporal.intervalView(ev(s, dir), entity = "user_id",
          ts = "ts", tieBreak = "event_id")
        .select(col("user_id"), col("event_id").as("iv_id"),
          col("valid_from"), col("valid_to"))
      val errors = ev(s, dir).filter(col("event_type") === "error")
        .select(col("user_id").as("e_user"), col("ts").as("e_ts"))
      iv.join(errors,
          col("user_id") === col("e_user") &&
          col("e_ts") >= col("valid_from") &&
          (col("valid_to").isNull || col("e_ts") < col("valid_to")),
          "left_outer")
        .groupBy("user_id", "iv_id", "valid_from")
        .agg(count(col("e_ts")).as("n_errors"))
        .orderBy("user_id", "valid_from", "iv_id")
    }),

    // T07 — SCD2 apply-changes: seed a valid_from/valid_to history from
    // the per-user value snapshot at Jan 10, then merge the Jan 20
    // snapshot into it (unchanged rows kept open, changed rows closed +
    // reopened, new users inserted). One full-outer shuffle join +
    // conditional explode (Temporal.scd2Merge).
    "t07_scd2_merge" -> ((s, dir) => {
      val t1Us = 1704844800000000L // 2024-01-10 00:00:00 UTC
      val t2Us = 1705708800000000L // 2024-01-20 00:00:00 UTC
      def snap(t: String): DataFrame =
        Temporal.snapshot(ev(s, dir), entity = "user_id", ts = "ts",
            t = lit(t).cast("timestamp"), tieBreak = "event_id")
          .select(col("user_id"), cents(col("value")).as("value_cents"))
      val hist = Temporal.scd2Init(snap("2024-01-10 00:00:00"), t1Us)
      Temporal.scd2Merge(hist, snap("2024-01-20 00:00:00"),
          entity = "user_id", attrs = Seq("value_cents"), atUs = t2Us)
        .orderBy("user_id", "valid_from_us")
    }),

    // T08 — change-point compaction: per-user event_type stream with
    // runs of the same state collapsed to their first change point (the
    // temporal store's flush-time dedup). One window shuffle.
    "t08_compact" -> ((s, dir) => {
      Temporal.compactChangePoints(ev(s, dir), entity = "user_id",
          ts = "ts", tieBreak = "event_id", value = col("event_type"))
        .select("user_id", "event_id", "ts", "event_type")
        .orderBy("user_id", "ts", "event_id")
    }),

    // T09 — temporal aggregation index: weekly min/max/sum/count per user
    // answered FROM the per-day rollup (partial re-aggregation; the raw
    // table is scanned once to build the index, never by the window
    // query). The oracle computes the same weeks directly from raw events
    // — hash equality proves the decomposition is lossless.
    "t09_rollup_weekly" -> ((s, dir) => {
      val daily = Temporal.rollupDaily(ev(s, dir), entity = "user_id",
        ts = "ts", valueCents = cents(col("value")))
      Temporal.reaggDaily(daily, entity = "user_id",
          origin = "2024-01-01", days = 7)
        .orderBy("user_id", "bucket")
    }),

    // T09b — the SAME weekly answer from the MAINTAINED index: events
    // split into 3 deterministic "micro-batches" (event_id mod 3),
    // folded through the idempotent per-batch MERGE
    // (Streams.mergeRollup — batch-id-keyed partials, so the replayed
    // batch 2 below is provably a no-op), then read through
    // dailyFromPartials + reaggDaily. Hash equality with t09's oracle
    // proves maintenance ≡ rebuild — the index is maintained on write,
    // not recomputed per query (the paper's aggregation-index contract).
    "t09b_rollup_incremental" -> ((s, dir) => {
      import graft.streaming.Streams
      val e = ev(s, dir)
      var state = Streams.rollupPartials(e.filter(lit(false)), -1L)
      for (b <- 0L to 2L)
        state = Streams.mergeRollup(state,
          e.filter(pmod(col("event_id"), lit(3)) === b), b)
      // retry of the last micro-batch — mergeRollup must absorb it
      state = Streams.mergeRollup(state,
        e.filter(pmod(col("event_id"), lit(3)) === 2L), 2L)
      Temporal.reaggDaily(Streams.dailyFromPartials(state),
          entity = "user_id", origin = "2024-01-01", days = 7)
        .orderBy("user_id", "bucket")
    }),

    // T10 — transaction-time read over the SCD2 history: "what did the
    // store BELIEVE at tx time T" — an interval filter on the history's
    // tx-validity columns. Reading at Jan-15 (between the seed and the
    // merge) reconstructs the Jan-10 snapshot exactly; reading at Jan-25
    // reconstructs the merged state. Hash equality against the two
    // snapshots recomputed from raw events proves tx-time reads never
    // leak later knowledge backwards.
    "t10_txtime_read" -> ((s, dir) => {
      val t1Us = 1704844800000000L // 2024-01-10 00:00:00 UTC
      val t2Us = 1705708800000000L // 2024-01-20 00:00:00 UTC
      def snap(t: String): DataFrame =
        Temporal.snapshot(ev(s, dir), entity = "user_id", ts = "ts",
            t = lit(t).cast("timestamp"), tieBreak = "event_id")
          .select(col("user_id"), cents(col("value")).as("value_cents"))
      val hist = Temporal.scd2Merge(
        Temporal.scd2Init(snap("2024-01-10 00:00:00"), t1Us),
        snap("2024-01-20 00:00:00"),
        entity = "user_id", attrs = Seq("value_cents"), atUs = t2Us)
      def asKnownAt(txUs: Long, as: String): DataFrame =
        hist.filter(col("valid_from_us") <= txUs &&
            (col("valid_to_us").isNull || col("valid_to_us") > txUs))
          .select(col("user_id"), col("value_cents").as(as))
      asKnownAt(1705276800000000L, "cents_at_t1") // 2024-01-15
        .join(asKnownAt(1706140800000000L, "cents_at_t2"), // 2024-01-25
          Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("cents_at_t1"), lit(-1L)).as("cents_at_t1"),
          coalesce(col("cents_at_t2"), lit(-1L)).as("cents_at_t2"))
        .orderBy("user_id")
    }),

    // T15 — BITEMPORAL read: valid time × transaction time. Each change
    // point becomes KNOWN (event_id % 5) days after it happened (a
    // deterministic, per-event ingestion lag — so later events with
    // short lags can be known while earlier events with long lags are
    // not, and the bitemporal answer differs from every single-axis
    // snapshot). The query asks: as the store stood on Jan-15 (tx),
    // what was each user's value on Jan-13 (valid)? Late-arriving
    // knowledge is excluded — a replay of that day's query returns that
    // day's answer even after backfills land.
    "t15_bitemporal_read" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("tx_us",
        graft.Det.epochUs(col("ts")) + (col("event_id") % 5) * lit(86400000000L))
      Temporal.bitemporalSnapshot(e, entity = Seq("user_id"),
          validTs = "ts", txTs = "tx_us",
          tValid = lit("2024-01-13 00:00:00").cast("timestamp"),
          tTx = lit(1705276800000000L), // 2024-01-15 00:00:00 UTC in µs
          tieBreak = "event_id")
        .select(col("user_id"), col("event_id"),
          cents(col("value")).as("val_cents"))
        .orderBy("user_id")
    }),

    // T40 — BITEMPORAL CORRECTION DIFF (NEW r14): "what did we LEARN
    // about the past between two knowledge times?" — the same
    // valid-time point V read as-of transaction times TX1 and TX2,
    // full-outer joined per entity; a row appears iff the WINNING
    // change point differs (a late-arriving correction revised the
    // believed state of V, or the entity became visible at all). The
    // audit read a bitemporal store exists to answer; -1 coalescing
    // keeps the cross-engine hash free of null ordering.
    "t40_bitemporal_diff" -> ((s, dir) => {
      val e = ev(s, dir).withColumn("tx_us",
        graft.Det.epochUs(col("ts")) + (col("event_id") % 5) * lit(86400000000L))
      def snap(txUs: Long) =
        Temporal.bitemporalSnapshot(e, entity = Seq("user_id"),
            validTs = "ts", txTs = "tx_us",
            tValid = lit("2024-01-13 00:00:00").cast("timestamp"),
            tTx = lit(txUs), tieBreak = "event_id")
          .select(col("user_id"), col("event_id"),
            cents(col("value")).as("cents"))
      val a = snap(1705276800000000L) // as known 2024-01-15
      val b = snap(1705708800000000L) // as known 2024-01-20
      a.select(col("user_id"), col("event_id").as("old_event"),
          col("cents").as("old_cents"))
        .join(b.select(col("user_id"), col("event_id").as("new_event"),
          col("cents").as("new_cents")), Seq("user_id"), "full_outer")
        .filter(col("old_event").isNull || col("new_event").isNull ||
          col("old_event") =!= col("new_event"))
        .select(col("user_id"),
          coalesce(col("old_event"), lit(-1L)).as("old_event"),
          coalesce(col("old_cents"), lit(-1L)).as("old_cents"),
          coalesce(col("new_event"), lit(-1L)).as("new_event"),
          coalesce(col("new_cents"), lit(-1L)).as("new_cents"))
        .orderBy("user_id")
    }),

    // T15b — the bitemporal read from pure SQL text through the
    // bitemporal_snapshot TVF: same two-axis semantics as t15 (valid
    // time ≤ Jan-13 among rows recorded by Jan-15 on the tx axis), the
    // tx bound passed as a µs integer literal matching the numeric
    // tx_us column. Identical oracle to t15.
    "t15b_bitemporal_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      ev(s, dir).withColumn("tx_us",
          graft.Det.epochUs(col("ts")) + (col("event_id") % 5) * lit(86400000000L))
        .createOrReplaceTempView("graft_t15b_events")
      s.sql("""SELECT user_id, event_id,
        |  CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM bitemporal_snapshot('graft_t15b_events', 'user_id', 'ts',
        |       'tx_us', '2024-01-13 00:00:00', 1705276800000000, 'event_id')
        |ORDER BY user_id""".stripMargin)
    }),

    // T16 — partition-PRUNED time-range scan: the same day-window
    // semantics as every temporal read's first filter, but against the
    // day-partitioned events layout (eventsByDay) — the predicate prunes
    // whole partition directories at planning time instead of filtering
    // rows post-scan. PlanShapeSpec asserts the executed scan touches
    // exactly the 5 selected day partitions; at 100 TB this is the
    // difference between reading 5 directories and a month of them.
    "t16_pruned_timerange" -> ((s, dir) => {
      eventsByDay(s, dir)
        .filter(col("p_day") >= lit("2024-01-10").cast("date") &&
          col("p_day") < lit("2024-01-15").cast("date"))
        .groupBy("p_day", "event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("sum_cents"))
        .select(col("p_day").cast("timestamp").as("day"), col("event_type"),
          col("n_events"), col("sum_cents"))
        .orderBy("day", "event_type")
    }),

    // T16b — DYNAMIC partition pruning: the day filter lives on a dim
    // table (every-7th-day calendar slice), not on the fact scan — the
    // fact partitions to read are only known once the dim is evaluated,
    // and Spark's DPP turns the broadcast dim into a runtime partition
    // filter on the events scan (plan-asserted in PlanShapeSpec). The
    // dim's day arithmetic is engine-portable (day-offset modulo, not
    // dayofweek — Spark and DuckDB number weekdays differently).
    "t16b_dpp_day_join" -> ((s, dir) => {
      val dim = s.range(0, 60).filter(col("id") % 7 === 0)
        .select(date_add(lit("2024-01-01").cast("date"),
          col("id").cast("int")).as("p_day"))
      eventsByDay(s, dir).join(dim, "p_day")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(cents(col("value"))).as("sum_cents"))
        .transform(Relational.enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // T17 — gap detection, the dual of sessionize: every per-user
    // silence strictly longer than 1 day between consecutive events,
    // emitted as (user, gap_start, gap_end, gap_us) — the downtime /
    // data-freshness view of the same lag window t06 builds islands
    // from. One entity shuffle, exact integer microseconds.
    "t17_gap_detect" -> ((s, dir) => {
      Temporal.gaps(ev(s, dir), "user_id", "ts", "event_id",
          minGapSeconds = 86400L)
        .select("user_id", "gap_start", "gap_end", "gap_us")
        .orderBy("user_id", "gap_start")
    }),

    // T19 — interval coalescing (temporal-algebra COALESCE/PACK): each
    // event opens a 45-minute hold [ts, ts+45m); per user, merge
    // overlapping-or-touching holds into maximal covered spans. The
    // normalization step before any interval set-algebra; one entity
    // shuffle, island groupBy reusing the window's partitioning.
    "t19_coalesce_intervals" -> ((s, dir) => {
      Temporal.coalesceIntervals(holds45(s, dir), entity = Seq("user_id"),
          start = "hold_start", end = "hold_end", tieBreak = "event_id")
        .orderBy("user_id", "span_start")
    }),

    // T20 — interval COMPLEMENT: per user, the sub-ranges of the
    // [Jan-08, Jan-18) audit window NOT covered by any 45-minute hold —
    // the uncovered dual of t19 (SLA downtime, unmonitored spans).
    // Same entity shuffle as the coalesce it builds on; head/between/
    // tail gaps emitted by the boundary rows themselves.
    "t20_interval_complement" -> ((s, dir) => {
      Temporal.intervalComplement(holds45(s, dir), entity = Seq("user_id"),
          start = "hold_start", end = "hold_end", tieBreak = "event_id",
          lo = lit("2024-01-08 00:00:00").cast("timestamp"),
          hi = lit("2024-01-18 00:00:00").cast("timestamp"))
        .orderBy("user_id", "gap_start")
    }),

    // T22 — time-in-state histogram: total held duration per state
    // value across all users — the occupancy read a state machine is
    // judged by ("how long do users sit in 'view' before converting").
    // Built on the compacted change-point stream (T08) so runs of the
    // same state count once, with each user's open tail interval
    // excluded (no end observation — counting it would fabricate
    // duration). Exact integer micros.
    "t22_time_in_state" -> ((s, dir) => {
      val compact = Temporal.compactChangePoints(ev(s, dir),
        entity = "user_id", ts = "ts", tieBreak = "event_id",
        value = col("event_type"))
      Temporal.intervalView(compact, "user_id", "ts", "event_id")
        .filter(col("valid_to").isNotNull)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_intervals"),
          sum(graft.Det.epochUs(col("valid_to")) -
            graft.Det.epochUs(col("valid_from"))).as("held_us"))
        .transform(Relational.enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // T21 — interval overlap audit on the 45-minute holds: every hold
    // that begins while the user's earlier holds still cover time —
    // each violator reported once against the frontier (linear, not
    // the quadratic all-pairs listing), exact integer overlap micros.
    // On a CLEAN validity table this returns zero rows — the SCD2
    // integrity check (TemporalSpec gates scd2Merge output clean).
    "t21_overlap_audit" -> ((s, dir) => {
      Temporal.overlapAudit(holds45(s, dir), entity = Seq("user_id"),
          start = "hold_start", end = "hold_end", tieBreak = "event_id")
        .orderBy("user_id", "ov_from", "event_id")
    }),

    // T29 — peak concurrency by sweep line over the 45-minute holds:
    // per user, the maximum number of simultaneously-open holds — the
    // capacity read t19's coalesced spans deliberately erase (see
    // Temporal.peakConcurrency for the boundary rule: ends before
    // starts at equal time, so touching holds never overlap).
    "t29_concurrency" -> ((s, dir) => {
      Temporal.peakConcurrency(holds45(s, dir), entity = Seq("user_id"),
          start = "hold_start", end = "hold_end", tieBreak = "event_id")
        .withColumnRenamed("n_intervals", "n_holds")
        .orderBy("user_id")
    }),

    // T30 — SEMI-ADDITIVE end-of-day totals by DELTA ENCODING: the
    // daily sum over users of each user's last-known "value" (the
    // balance/inventory/gauge aggregation where summing raw events
    // double-counts). The naive plan materializes |users|×|days|
    // snapshots; the delta plan never does — each user's per-day LAST
    // cents (one window over the user's own change points) becomes a
    // day-keyed DELTA against their previous known day, so the global
    // curve is just a running sum of per-day delta totals over the
    // dense t23 spine (|days| rows). n_users rises the same way from
    // each user's first-seen day. Exact integer cents end to end.
    "t30_eop_balance" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"), col("event_id"),
        date_trunc("day", col("ts")).as("day"),
        expr("CAST(round(value*100) AS BIGINT)").as("cents"),
        col("ts"))
      val wLast = Window.partitionBy("user_id", "day")
        .orderBy(col("ts").desc, col("event_id").desc)
      val lastPerDay = e.withColumn("rn", row_number().over(wLast))
        .filter(col("rn") === 1)
        .select("user_id", "day", "cents")
      val wUser = Window.partitionBy("user_id").orderBy("day")
      val deltas = lastPerDay
        .withColumn("prev", lag("cents", 1).over(wUser))
        .select(col("day"),
          (col("cents") - coalesce(col("prev"), lit(0L))).as("delta"),
          when(col("prev").isNull, 1L).otherwise(0L).as("is_first"))
        .groupBy("day")
        .agg(sum("delta").as("day_delta"), sum("is_first").as("new_users"))
      val bounds = e.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
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

    // T17b — the same gap detection from pure SQL text via the
    // detect_gaps TVF; identical oracle to t17.
    "t17b_gaps_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      ev(s, dir).createOrReplaceTempView("graft_t17b_events")
      s.sql("""SELECT user_id, gap_start, gap_end, gap_us
        |FROM detect_gaps('graft_t17b_events', 'user_id', 'ts',
        |                 'event_id', 86400)
        |ORDER BY user_id, gap_start""".stripMargin)
    }),

    // T29b — the same sweep-line peak concurrency from pure SQL text
    // via the peak_concurrency TVF; identical oracle to t29.
    "t29b_concurrency_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      holds45(s, dir).createOrReplaceTempView("graft_t29b_holds")
      s.sql("""SELECT user_id, n_intervals AS n_holds, peak
        |FROM peak_concurrency('graft_t29b_holds', 'user_id',
        |                      'hold_start', 'hold_end', 'event_id')
        |ORDER BY user_id""".stripMargin)
    }),

    // T31 — dwell-time QUANTILES per state: exact lower-median and p90
    // of closed-interval durations on the compacted change-point
    // stream (t22's substrate) — the tail read capacity planning needs
    // where t22's totals hide the distribution. Exact order
    // statistics by rank ((n+1) div 2 and ceil(0.9n) as (9n+9) div
    // 10), NOT interpolating percentiles — well-defined under ties
    // where interpolation float-drifts, and tie order can't matter
    // because the rank picks a VALUE off the value-sorted order. One
    // state-keyed rank window + a ≤|states|-row count join.
    "t31_dwell_quantiles" -> ((s, dir) => {
      val compact = Temporal.compactChangePoints(ev(s, dir),
        entity = "user_id", ts = "ts", tieBreak = "event_id",
        value = col("event_type"))
      val iv = Temporal.intervalView(compact, "user_id", "ts", "event_id")
        .filter(col("valid_to").isNotNull)
        .select(col("event_type"),
          (graft.Det.epochUs(col("valid_to")) -
            graft.Det.epochUs(col("valid_from"))).as("dur_us"))
      val w = Window.partitionBy("event_type").orderBy(col("dur_us").asc)
      val cnt = iv.groupBy("event_type").agg(count(lit(1)).as("n"))
      iv.withColumn("rn", row_number().over(w))
        .join(cnt, "event_type")
        .filter(col("rn") === expr("(n + 1) div 2") ||
          col("rn") === expr("(9 * n + 9) div 10"))
        .groupBy("event_type", "n")
        .agg(min(when(col("rn") === expr("(n + 1) div 2"),
            col("dur_us"))).as("med_dur_us"),
          min(when(col("rn") === expr("(9 * n + 9) div 10"),
            col("dur_us"))).as("p90_dur_us"))
        .transform(Relational.enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // T32 — POINT-IN-TIME feature join (leakage-safe feature
    // engineering): for every order, the customer's event history
    // aggregated STRICTLY BEFORE the order date — count, spend, and
    // most recent event type — the join that makes a training set
    // honest (an at-or-before join would leak same-instant outcomes
    // into features; strictness is the whole point and is pinned by
    // the probes-BEFORE-events tie order at equal ts). The union
    // trick generalized from as-of point lookup to RUNNING AGGREGATE
    // probes: one entity shuffle over events ∪ probes, running
    // sums/last over the preceding-rows frame, probe rows carry zero
    // weight — no per-probe subquery, no inequality join (the oracle
    // pays that quadratic form; the engine never does).
    "t32_pit_features" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        graft.Det.epochUs(col("ts")).as("ts_us"),
        lit(1L).as("is_event"), col("event_id").as("tie"),
        expr("CAST(round(value*100) AS BIGINT)").as("cents"),
        col("event_type").as("etype"),
        lit(null).cast("long").as("o_orderkey"))
      val p = Tables.load(s, dir, "orders").select(
        (col("o_custkey") % 50).as("user_id"),
        graft.Det.epochUs(col("o_orderdate")).as("ts_us"),
        lit(0L).as("is_event"), col("o_orderkey").as("tie"),
        lit(0L).as("cents"), lit(null).cast("string").as("etype"),
        col("o_orderkey"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("is_event").asc, col("tie").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      e.unionByName(p)
        .withColumn("n_prior", sum("is_event").over(w))
        .withColumn("cents_prior", sum("cents").over(w))
        .withColumn("last_type", last("etype", ignoreNulls = true).over(w))
        .filter(col("is_event") === 0)
        .select(col("o_orderkey"),
          coalesce(col("n_prior"), lit(0L)).as("n_prior"),
          coalesce(col("cents_prior"), lit(0L)).as("cents_prior"),
          coalesce(col("last_type"), lit("none")).as("last_type"))
        .orderBy("o_orderkey")
    }),

    // T33 — last-touch attribution: every purchase credits its most
    // recent click/view within a 7-day lookback (same user, STRICTLY
    // earlier in the (ts, event_id) event order — t32's leakage rule
    // applied to marketing credit); no qualifying touch → 'direct'.
    // One entity-partitioned window over the unified event stream (an
    // ignore-nulls last() carries the latest touch forward — touches
    // and purchases already share the stream, so no second input or
    // join exists at all), then a channel-count rollup. The oracle
    // pays the per-purchase inequality-join form the engine avoids.
    "t33_attribution" -> ((s, dir) => {
      val base = ev(s, dir).select(col("user_id"),
        epochUs(col("ts")).as("ts_us"), col("event_id"),
        col("event_type"),
        expr("CAST(round(value*100) AS BIGINT)").as("cents"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val touch = when(col("event_type").isin("click", "view"),
        struct(col("ts_us").as("t_us"), col("event_type").as("ch")))
      base
        .withColumn("lt", last(touch, ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .withColumn("channel",
          when(col("lt").isNotNull &&
              col("lt.t_us") >= col("ts_us") - lit(7L * 86400000000L),
            col("lt.ch")).otherwise(lit("direct")))
        .groupBy("channel")
        .agg(count(lit(1)).as("n_purchases"),
          sum("cents").as("cents_revenue"))
        .orderBy("channel")
    }),

    // T34 — weekday-adjusted anomaly days: per event type, the top-5
    // most anomalous days of the DENSE daily series (t23's spine — a
    // zero day must be able to flag) after removing weekday
    // seasonality, with the anomaly bit from the classic robust rule
    // |resid| > 3·MAD. All order statistics are exact lower-median
    // rank picks (t31's discipline — well-defined under ties), so the
    // whole pipeline is integer arithmetic: med_dow = per-(type,
    // weekday) median daily count, resid = n − med_dow, MAD = per-type
    // median |resid|. Plain MAD outliers (q43) misfire weekly rhythms
    // as anomalies — detrending first is the operator's point. Scale:
    // everything runs on the |days × types| aggregate, never events.
    "t34_seasonal_anomaly" -> ((s, dir) => {
      val dd = denseDaily(s, dir)
        .withColumn("dow", expr("weekday(day)").cast("long"))
      val grp = Window.partitionBy("event_type", "dow")
      val med = dd
        .withColumn("rn", row_number().over(grp.orderBy("n", "day")))
        .withColumn("cnt", count(lit(1)).over(grp))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("dow"), col("n").as("med_dow"))
      val resid = dd.join(med, Seq("event_type", "dow"))
        .withColumn("resid", col("n") - col("med_dow"))
      val byType = Window.partitionBy("event_type")
      val mad = resid
        .withColumn("rn",
          row_number().over(byType.orderBy(abs(col("resid")), col("day"))))
        .withColumn("cnt", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), abs(col("resid")).as("mad"))
      resid.join(broadcast(mad), "event_type")
        .withColumn("rk", row_number().over(
          byType.orderBy(abs(col("resid")).desc, col("day").asc)))
        .filter(col("rk") <= 5)
        .withColumn("is_anomaly", abs(col("resid")) > lit(3L) * col("mad"))
        .select("event_type", "day", "n", "med_dow", "resid", "mad",
          "is_anomaly")
        .orderBy("event_type", "day")
    }),

    // T35 — churn-risk scoring: each user's current SILENCE (time from
    // their last event to the corpus frontier) against 3× their OWN
    // median inter-event gap — the personalized inactivity alarm (a
    // global threshold misfires both the hourly user and the weekly
    // one; self-calibration is the operator's point). Median gap is the
    // exact lower-median rank pick over the user's lag-gaps (t31's
    // discipline); users need ≥ 3 events (≥ 2 gaps) to calibrate. One
    // entity-windowed pass over events + a broadcast 1-row frontier —
    // nothing leaves the user partition until the ≤|users|-row result.
    "t35_churn_risk" -> ((s, dir) => {
      val e = ev(s, dir).select(col("user_id"),
        epochUs(col("ts")).as("ts_us"), col("event_id"))
      val now = e.agg(max("ts_us").as("now_us"))
      val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      val gaps = e
        .withColumn("prev", lag("ts_us", 1).over(w))
        .filter(col("prev").isNotNull)
        .select(col("user_id"), (col("ts_us") - col("prev")).as("gap_us"))
      val grp = Window.partitionBy("user_id")
      val med = gaps
        .withColumn("rn", row_number().over(grp.orderBy("gap_us")))
        .withColumn("cnt", count(lit(1)).over(grp))
        .filter(col("rn") === expr("(cnt + 1) div 2") && col("cnt") >= 2)
        .select(col("user_id"), col("gap_us").as("med_gap_us"),
          (col("cnt") + 1).as("n_events"))
      val lastTs = e.groupBy("user_id").agg(max("ts_us").as("last_us"))
      med.join(lastTs, "user_id").crossJoin(broadcast(now))
        .withColumn("silence_us", col("now_us") - col("last_us"))
        .withColumn("at_risk",
          col("silence_us") > lit(3L) * col("med_gap_us"))
        .select("user_id", "n_events", "med_gap_us", "silence_us",
          "at_risk")
        .orderBy("user_id")
    }),

    // T36 — rolling 28-day trend: q51's exact OLS as a WINDOW — per
    // (event type, day), the slope of daily counts over the trailing
    // 28 days of the dense spine (zeros included: a quiet week must
    // pull the trend down, which a sparse series silently would not).
    // The five sufficient statistics become five window sums over the
    // same frame (one shuffle, five aggregates in one window pass);
    // x = dense day index, so den > 0 always and every sum stays in
    // long range by construction; the signed scaled division truncates
    // toward zero like q51. Emitted only where the frame is FULL (m =
    // 28) — a partial-window slope is a different, noisier statistic.
    "t36_rolling_trend" -> ((s, dir) => {
      // x = 1 + days since the spine origin — an ARITHMETIC day index,
      // not a row_number: a windowed x would chain the sxy/sxx products
      // behind a prior Window's output and split the statistics across
      // four Window operators (observed; PlanShapeSpec pins the fused
      // shape). Same values (the dense spine starts at lo for every
      // type), one window pass.
      val lo = ev(s, dir).agg(date_trunc("day", min(col("ts"))).as("lo"))
      val d2 = denseDaily(s, dir).crossJoin(broadcast(lo))
        .withColumn("x", (datediff(col("day"), col("lo")) + 1).cast("long"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(-27, 0)
      // products as plain pre-window columns + ONE select with all five
      // frame aggregates: a withColumn chain interleaves Projects (the
      // product inputs) between the Window ops and defeats
      // CollapseWindow — one select over ready columns fuses them
      d2.withColumn("xn", col("x") * col("n"))
        .withColumn("xx", col("x") * col("x"))
        .select(col("event_type"), col("day"),
          count(lit(1)).over(w).as("m"),
          sum("x").over(w).as("sx"), sum("n").over(w).as("sy"),
          sum("xn").over(w).as("sxy"), sum("xx").over(w).as("sxx"))
        .filter(col("m") === 28)
        .withColumn("num", col("m") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den", col("m") * col("sxx") - col("sx") * col("sx"))
        .withColumn("slope_e6", expr("""CASE WHEN num >= 0
            THEN 1000000 * num div den
            ELSE -((1000000 * (-num)) div den) END"""))
        .select("event_type", "day", "slope_e6")
        .orderBy("event_type", "day")
    }),

    // T37 — CUSUM change detection (Page 1954): per event type, the
    // one-sided cumulative-sum statistic over the dense daily series —
    // S_t = max(0, S_{t-1} + (n_t − med)) detects a sustained LEVEL
    // SHIFT that per-day outlier rules (t34) structurally cannot (ten
    // days each +2·MAD never flag individually; their cumulative drift
    // does). The recursion is not window-expressible, but the classic
    // identity S_t = P_t − min(0, min_{i≤t} P_i) over prefix sums
    // P_t = Σ(n_i − med) IS — two stacked running windows over the
    // same (type, day) order, one shuffle. med and MAD are the exact
    // rank picks (t31/t34 discipline), the shift flag is
    // cusum > 5·MAD, and the top-5 cusum days per type are emitted so
    // the result is informative even on a shift-free corpus.
    "t37_cusum" -> ((s, dir) => {
      val byType = Window.partitionBy("event_type")
      val dd = denseDaily(s, dir)
      val med = dd
        .withColumn("rn", row_number().over(byType.orderBy("n", "day")))
        .withColumn("cnt", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), col("n").as("med"))
      val wd = dd.join(broadcast(med), "event_type")
        .withColumn("dev", col("n") - col("med"))
      val mad = wd
        .withColumn("rn",
          row_number().over(byType.orderBy(abs(col("dev")), col("day"))))
        .withColumn("cnt", count(lit(1)).over(byType))
        .filter(col("rn") === expr("(cnt + 1) div 2"))
        .select(col("event_type"), abs(col("dev")).as("mad"))
      val run = byType.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      wd.withColumn("p", sum("dev").over(run))
        .withColumn("pmin", min(least(col("p"), lit(0L))).over(run))
        .withColumn("cusum", col("p") - col("pmin"))
        .join(broadcast(mad), "event_type")
        .withColumn("rk", row_number().over(
          byType.orderBy(col("cusum").desc, col("day").asc)))
        .filter(col("rk") <= 5)
        .withColumn("shifted", col("cusum") > lit(5L) * col("mad"))
        .select("event_type", "day", "n", "cusum", "shifted")
        .orderBy("event_type", "day")
    }),

    // T38 — MERGEABLE percentile index: p50/p90/p99 of value-cents per
    // event type over an arbitrary two-week window, answered from
    // per-(type, day, bucket) additive histogram partials — q44's
    // integer buckets put through the q16b/t09 build-once/re-agg
    // pattern, closing the gap q28b left (its sketch is one-shot, not
    // range-composable). Every output is an exact integer (the bucket
    // holding the rank-⌈p·n/100⌉ order statistic plus its edges), so
    // the whole index path hash-matches a DuckDB replay of the same
    // buckets; the error-≤-bucket-width containment vs exact
    // percentiles is pinned in ToleranceSpec.
    // T39 — linear-interpolation resampling (the other half of t31's
    // forward-fill): each user's value series read out on the daily
    // UTC-midnight grid, exactly interpolated between bracketing events
    // in integer µs/cents arithmetic (decimal(38,0) products, div).
    "t39_resample_interpolate" -> ((s, dir) =>
      Temporal.resampleInterpolate(ev(s, dir), entity = "user_id",
          ts = "ts", tieBreak = "event_id",
          valueCents = cents(col("value")))
        .orderBy("user_id", "day")),

    "t38_percentile_index" -> ((s, dir) => {
      val parts = Temporal.histogramDaily(ev(s, dir),
        entity = "event_type", ts = "ts",
        valueCents = cents(col("value")),
        loCents = 0L, hiCents = 50000L, nBuckets = 25)
      Temporal.percentilesFromHistogram(
          parts.filter(col("day").between(
            lit("2024-01-08").cast("timestamp"),
            lit("2024-01-21").cast("timestamp"))),
          entity = "event_type", percents = Seq(50, 90, 99),
          loCents = 0L, hiCents = 50000L, nBuckets = 25)
        .orderBy("event_type", "p")
    }),

    // T19b — the same interval coalescing from pure SQL text via the
    // coalesce_intervals TVF; identical oracle to t19.
    "t19b_coalesce_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      holds45(s, dir).createOrReplaceTempView("graft_t19b_holds")
      s.sql("""SELECT user_id, span_start, span_end, n_intervals
        |FROM coalesce_intervals('graft_t19b_holds', 'user_id',
        |                        'hold_start', 'hold_end', 'event_id')
        |ORDER BY user_id, span_start""".stripMargin)
    }),

    // T23 — date-spine zero-fill: daily event counts per type with the
    // MISSING days present as explicit zeros between the global min and
    // max day — the dense series every downstream rolling window / chart
    // / forecast join assumes ("no row" and "zero events" are different
    // facts). The spine is generated from a 1-row bounds agg via
    // sequence() + explode (a few hundred rows even at 100 TB: days ×
    // types, both tiny), then LEFT-joined by the real counts — the big
    // side aggregates BEFORE the join, so the spine join touches
    // |days × types| rows, never |events|.
    "t23_date_spine" -> ((s, dir) =>
      denseDaily(s, dir).orderBy("day", "event_type")),

    // T26 — week-over-week change: each (day, type) count against the
    // count 7 days earlier, as exact integers. Built ON the dense t23
    // series, which is what makes a row-lag a TIME-lag: zeros fill the
    // holes, so lag(7 rows) over the per-type day order is exactly
    // "same weekday last week" — on a sparse series this identity is
    // silently wrong, which is the reason t23 exists. First week drops
    // (no prior week to compare).
    "t26_wow_change" -> ((s, dir) => {
      val w = Window.partitionBy("event_type").orderBy("day")
      denseDaily(s, dir)
        .withColumn("n_prev", lag("n", 7).over(w))
        .filter(col("n_prev").isNotNull)
        .withColumn("delta", col("n") - col("n_prev"))
        .select("day", "event_type", "n", "n_prev", "delta")
        .orderBy("day", "event_type")
    }),

    // T24 — OHLC bars: per (user, day), the open/high/low/close of the
    // event value stream — the canonical time-series downsample (candle
    // bars, sensor rollups). Open/close are argmin/argmax by (ts,
    // event_id) via Spark's max_by/min_by with a struct ordering key —
    // one two-phase agg, no window, no shuffle beyond the group keys;
    // values exact integer cents.
    "t24_ohlc_bars" -> ((s, dir) => {
      val e = ev(s, dir)
        .select(col("user_id"), date_trunc("day", col("ts")).as("day"),
          struct(col("ts"), col("event_id")).as("ord"),
          cents(col("value")).as("v_cents"))
      e.groupBy("user_id", "day")
        .agg(count(lit(1)).as("n"),
          min_by(col("v_cents"), col("ord")).as("open_cents"),
          max(col("v_cents")).as("high_cents"),
          min(col("v_cents")).as("low_cents"),
          max_by(col("v_cents"), col("ord")).as("close_cents"))
        .orderBy("user_id", "day")
    }),

    // T27 — temporal ALIGN (full-outer interval algebra; t11's missing
    // dual): the per-user VALUE intervals — CLIPPED to a 2-hour
    // staleness horizon, which is what creates genuine coverage gaps —
    // aligned with the compacted EVENT-TYPE intervals on the union of
    // their breakpoints. Segments where the value has expired carry the
    // type alone (val_id = -1): the "state machine still holds but the
    // reading is stale" fact only the outer form can state. No
    // inequality join — two as-of picks over one segment spine
    // (Temporal.temporalAlign); nulls coalesced to -1/'none' for
    // cross-engine null-ordering safety; hash-matched.
    "t27_temporal_align" -> ((s, dir) => {
      val e = ev(s, dir)
      val values = Temporal.intervalView(e, "user_id", "ts", "event_id")
        .filter(col("valid_to").isNotNull)
        .withColumn("valid_to", least(col("valid_to"),
          col("valid_from") + expr("interval 2 hours")))
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_id").as("val_id"), cents(col("value")).as("val_cents"))
      val types = Temporal.intervalView(
          Temporal.compactChangePoints(e, "user_id", "ts", "event_id",
            col("event_type")),
          "user_id", "ts", "event_id")
        .filter(col("valid_to").isNotNull)
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_id").as("type_id"), col("event_type"))
      Temporal.temporalAlign(values, types, "user_id",
          aTie = "val_id", bTie = "type_id")
        .select(col("user_id"), col("seg_from"), col("seg_to"),
          coalesce(col("val_id"), lit(-1L)).as("val_id"),
          coalesce(col("val_cents"), lit(-1L)).as("val_cents"),
          coalesce(col("type_id"), lit(-1L)).as("type_id"),
          coalesce(col("event_type"), lit("none")).as("event_type"))
        .orderBy("user_id", "seg_from")
    }),

    // T11 — temporal interval-intersection join (the temporal-algebra
    // inner join): the per-user VALUE intervals joined with the per-user
    // EVENT-TYPE intervals (the compacted T08 stream, so the two interval
    // sets genuinely differ); each output row carries both payloads and
    // is valid on the intersection.
    "t11_temporal_join" -> ((s, dir) => {
      val e = ev(s, dir)
      val values = Temporal.intervalView(e, "user_id", "ts", "event_id")
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_id").as("val_id"), cents(col("value")).as("val_cents"))
      val types = Temporal.intervalView(
          Temporal.compactChangePoints(e, "user_id", "ts", "event_id",
            col("event_type")),
          "user_id", "ts", "event_id")
        .select(col("user_id"), col("valid_from"), col("valid_to"),
          col("event_id").as("type_id"), col("event_type"))
      Temporal.temporalJoin(values, types, "user_id")
        .orderBy("user_id", "valid_from", "val_id", "type_id")
    }),

    // T12 — time-weighted temporal aggregation over [Jan-10, Jan-12):
    // value × held-duration per user, exact integer (cents·µs) numerator
    // and covered µs — the division-free form of the temporal mean.
    "t12_time_weighted" -> ((s, dir) => {
      Temporal.timeWeighted(ev(s, dir), entity = "user_id", ts = "ts",
          tieBreak = "event_id", valueCents = cents(col("value")),
          t1 = lit("2024-01-10 00:00:00").cast("timestamp"),
          t2 = lit("2024-01-12 00:00:00").cast("timestamp"))
        .orderBy("user_id")
    }),

    // T06 — sessionization, 30-minute gap, strictly-greater split rule.
    // r20 range-first (see q11_window_rank): range-partition on user_id up
    // front — the sessionize windows cluster on it and the terminal
    // orderBy(user_id, session_start) is satisfied by the prefix rule, so
    // the plan drops from 2 Exchanges (hash + sampled range) to 1.
    // Interleaved A/B (OPTIMIZATION_r20.md): 0.254 → 0.203 s; rows and
    // total order unchanged.
    "t06_sessionize" -> ((s, dir) => {
      Temporal.sessionize(
          ev(s, dir).repartitionByRange(col("user_id")),
          entity = "user_id", ts = "ts",
          tieBreak = "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_id")
        .agg(min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events"))
        .select("user_id", "session_start", "session_end", "n_events")
        .orderBy("user_id", "session_start")
    }),

    // T41 — SESSION STATISTICS (NEW r14): the per-session summary a
    // product read draws from t06's sessionization — duration, event
    // count, and the idle gap since the user's previous session ended
    // (-1 for the first). One session-keyed agg on top of the single
    // sessionize shuffle + a user-keyed lag over the (small) session
    // dimension. Hash-matched against the t06 session CTE + lag replay.
    "t41_session_stats" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // r20 range-first (see q11_window_rank / t06): both windows and
      // the session agg cluster on user_id, and the terminal
      // orderBy(user_id, session_id) is prefix-satisfied — one exchange.
      val sess = Temporal.sessionize(
          ev(s, dir).repartitionByRange(col("user_id")),
          entity = "user_id",
          ts = "ts", tieBreak = "event_id", gapSeconds = 1800)
        .groupBy("user_id", "session_id")
        .agg(graft.Det.epochUs(min(col("ts"))).as("start_us"),
          graft.Det.epochUs(max(col("ts"))).as("end_us"),
          count(lit(1)).as("n_events"))
      sess
        .withColumn("prev_end", lag("end_us", 1).over(
          Window.partitionBy("user_id").orderBy("session_id")))
        .select(col("user_id"), col("session_id"), col("start_us"),
          col("end_us"), (col("end_us") - col("start_us")).as("duration_us"),
          col("n_events"),
          coalesce(col("start_us") - col("prev_end"), lit(-1L))
            .as("idle_us"))
        .orderBy("user_id", "session_id")
    }),

    // T06b — the same sessionization from pure SQL text via the
    // sessionize TVF; identical oracle to t06.
    "t06b_sessionize_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      ev(s, dir).createOrReplaceTempView("graft_t06b_events")
      s.sql("""SELECT user_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM sessionize('graft_t06b_events', 'user_id', 'ts',
        |                'event_id', 1800)
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin)
    })
  )

  private val q10Oracle =
    """WITH p AS (SELECT event_id, user_id, ts FROM events
      |           WHERE event_type = 'purchase'),
      |     c AS (SELECT user_id, ts, max(event_id) AS click_id
      |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
      |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
      |  (SELECT max_by(c.click_id, c.ts) FROM c
      |   WHERE c.user_id = p.user_id AND c.ts <= p.ts) AS click_id
      |FROM p ORDER BY p.event_id""".stripMargin

  private val t14Oracle =
    """SELECT user_id, event_type,
      |  CAST(round(value*100) AS BIGINT) AS val_cents
      |FROM (SELECT user_id, event_type, value,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
      |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin

  private val t17Oracle =
    """WITH o AS (SELECT user_id, ts,
      |    lag(ts) OVER (PARTITION BY user_id
      |                  ORDER BY ts, event_id) AS pts
      |  FROM events)
      |SELECT user_id,
      |  CAST(pts AS TIMESTAMP) AS gap_start,
      |  CAST(ts AS TIMESTAMP) AS gap_end,
      |  epoch_us(CAST(ts AS TIMESTAMP))
      |    - epoch_us(CAST(pts AS TIMESTAMP)) AS gap_us
      |FROM o
      |WHERE pts IS NOT NULL
      |  AND epoch_us(CAST(ts AS TIMESTAMP))
      |    - epoch_us(CAST(pts AS TIMESTAMP)) > 86400000000
      |ORDER BY user_id, gap_start""".stripMargin

  private val t29Oracle =
    """WITH h AS (SELECT user_id, event_id,
      |    epoch_us(CAST(ts AS TIMESTAMP)) AS s_us,
      |    epoch_us(CAST(ts AS TIMESTAMP)) + 2700000000 AS e_us
      |  FROM events),
      |b AS (SELECT user_id, s_us AS t, 1 AS d, event_id FROM h
      |  UNION ALL
      |  SELECT user_id, e_us, -1, event_id FROM h),
      |r AS (SELECT user_id,
      |    sum(d) OVER (PARTITION BY user_id
      |                 ORDER BY t, d, event_id) AS conc
      |  FROM b)
      |SELECT user_id, CAST(count(*) // 2 AS BIGINT) AS n_holds,
      |  CAST(max(conc) AS BIGINT) AS peak
      |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  private val t19Oracle =
    """WITH iv AS (SELECT user_id, event_id, ts AS s,
      |    ts + INTERVAL 45 MINUTE AS e FROM events),
      |m AS (SELECT user_id, event_id, s, e,
      |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |      AS frontier
      |  FROM iv),
      |b AS (SELECT user_id, event_id, s, e,
      |    CASE WHEN frontier IS NULL OR s <= frontier THEN 0 ELSE 1 END
      |      AS brk
      |  FROM m),
      |g AS (SELECT user_id, s, e,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS island
      |  FROM b)
      |SELECT user_id, CAST(min(s) AS TIMESTAMP) AS span_start,
      |  CAST(max(e) AS TIMESTAMP) AS span_end, count(*) AS n_intervals
      |FROM g GROUP BY user_id, island
      |ORDER BY user_id, span_start""".stripMargin

  private val t01Oracle =
    """SELECT user_id, CAST(round(value*100) AS BIGINT) AS val_cents
      |FROM (SELECT user_id, value,
      |        row_number() OVER (PARTITION BY user_id
      |                           ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
      |WHERE rn = 1 ORDER BY user_id""".stripMargin

  val oracles: Map[String, String] = Map(
    "q10_asof_join" -> q10Oracle,

    "q10b_asof_merge" -> q10Oracle,

    "q10e_asof_sql" -> q10Oracle,

    "q10c_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |  (SELECT c.click_id FROM c
        |   WHERE c.user_id = p.user_id AND c.ts >= p.ts
        |   ORDER BY c.ts ASC, c.click_id ASC LIMIT 1) AS click_id
        |FROM p ORDER BY p.event_id""".stripMargin,

    "q10d_asof_nearest" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |  (SELECT c.click_id FROM c
        |   WHERE c.user_id = p.user_id
        |   ORDER BY abs(epoch_us(CAST(c.ts AS TIMESTAMP))
        |              - epoch_us(CAST(p.ts AS TIMESTAMP))) ASC,
        |     (CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END) ASC,
        |     (CASE WHEN c.ts <= p.ts THEN -c.click_id ELSE c.click_id END) ASC
        |   LIMIT 1) AS click_id
        |FROM p ORDER BY p.event_id""".stripMargin,

    "q10f_asof_tolerance" ->
      """WITH p AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, ts, max(event_id) AS click_id
        |           FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, CAST(p.ts AS TIMESTAMP) AS ts,
        |  (SELECT max_by(c.click_id, c.ts) FROM c
        |   WHERE c.user_id = p.user_id AND c.ts <= p.ts
        |     AND c.ts >= p.ts - INTERVAL 1 HOUR) AS click_id
        |FROM p ORDER BY p.event_id""".stripMargin,

    "t01_snapshot" -> t01Oracle,

    "t01b_snapshot_sql" -> t01Oracle,

    "t18_snapshot_diff" ->
      """WITH s1 AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS v
        |  FROM (SELECT user_id, value, row_number() OVER (
        |          PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |          AS rn
        |        FROM events
        |        WHERE ts <= TIMESTAMP '2024-01-10 00:00:00')
        |  WHERE rn = 1),
        |s2 AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS v
        |  FROM (SELECT user_id, value, row_number() OVER (
        |          PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |          AS rn
        |        FROM events
        |        WHERE ts <= TIMESTAMP '2024-01-15 00:00:00')
        |  WHERE rn = 1)
        |SELECT s2.user_id,
        |  CASE WHEN s1.user_id IS NULL THEN 'insert' ELSE 'update' END
        |    AS change_kind,
        |  s2.v AS val_cents, s1.v AS old_val_cents
        |FROM s2 LEFT JOIN s1 ON s2.user_id = s1.user_id
        |WHERE s1.user_id IS NULL OR s2.v IS DISTINCT FROM s1.v
        |ORDER BY s2.user_id""".stripMargin,

    "t14_multikey_snapshot" -> t14Oracle,

    "t14b_multikey_snapshot_sql" -> t14Oracle,

    "t13_resample_ffill" ->
      """WITH span AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
        |                     date_trunc('day', max(ts)) AS d1
        |              FROM events GROUP BY 1),
        |s AS (SELECT user_id,
        |        unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |      FROM span)
        |SELECT s.user_id, CAST(s.day AS TIMESTAMP) AS day,
        |  CAST(round((SELECT e.value FROM events e
        |      WHERE e.user_id = s.user_id AND e.ts < s.day + INTERVAL 1 DAY
        |      ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) * 100)
        |    AS BIGINT) AS val_cents
        |FROM s ORDER BY s.user_id, s.day""".stripMargin,

    "t02_time_range" ->
      """SELECT user_id, event_id, CAST(valid_from AS TIMESTAMP) AS valid_from,
        |  CAST(valid_to AS TIMESTAMP) AS valid_to,
        |  CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM (SELECT user_id, event_id, value, ts AS valid_from,
        |        lead(ts) OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS valid_to
        |      FROM events)
        |WHERE valid_from < TIMESTAMP '2024-01-12 00:00:00'
        |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-10 00:00:00')
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "t03_tumbling_agg" ->
      """SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
        |  CAST((200 * sum(CAST(round(value*100) AS BIGINT)) + count(*))
        |       // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_value,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY user_id, day""".stripMargin,

    "t03_sliding_agg" ->
      """SELECT user_id,
        |  CAST(date_trunc('day', ts) - INTERVAL 1 DAY * CAST(gs AS INT) AS TIMESTAMP) AS ws,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_cents
        |FROM events, generate_series(0, 6) AS t(gs)
        |GROUP BY 1, 2 ORDER BY user_id, ws""".stripMargin,

    "t04_asof_orders" ->
      """SELECT e.event_id, e.user_id,
        |  (SELECT max(o.o_orderkey) FROM orders o
        |   WHERE o.o_custkey % 50 = e.user_id
        |     AND o.o_orderdate = (SELECT max(o2.o_orderdate) FROM orders o2
        |                          WHERE o2.o_custkey % 50 = e.user_id
        |                            AND o2.o_orderdate <= e.ts))
        |    AS last_orderkey
        |FROM events e ORDER BY e.event_id""".stripMargin,

    "t05_interval_join" ->
      """WITH iv AS (SELECT user_id, event_id AS iv_id, ts AS valid_from,
        |              lead(ts) OVER (PARTITION BY user_id
        |                             ORDER BY ts, event_id) AS valid_to
        |            FROM events),
        |     err AS (SELECT user_id AS e_user, ts AS e_ts FROM events
        |             WHERE event_type = 'error')
        |SELECT iv.user_id, iv.iv_id, CAST(iv.valid_from AS TIMESTAMP) AS valid_from,
        |  count(err.e_ts) AS n_errors
        |FROM iv LEFT JOIN err
        |  ON iv.user_id = err.e_user
        | AND err.e_ts >= iv.valid_from
        | AND (iv.valid_to IS NULL OR err.e_ts < iv.valid_to)
        |GROUP BY iv.user_id, iv.iv_id, iv.valid_from
        |ORDER BY iv.user_id, iv.valid_from, iv.iv_id""".stripMargin,

    "t07_scd2_merge" ->
      """WITH s1 AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS value_cents
        |  FROM (SELECT user_id, value,
        |          row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE ts <= TIMESTAMP '2024-01-10 00:00:00')
        |  WHERE rn = 1),
        |s2 AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS value_cents
        |  FROM (SELECT user_id, value,
        |          row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1)
        |SELECT s1.user_id, s1.value_cents,
        |  1704844800000000 AS valid_from_us, CAST(NULL AS BIGINT) AS valid_to_us
        |FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s1.value_cents = s2.value_cents
        |UNION ALL
        |SELECT s1.user_id, s1.value_cents, 1704844800000000, 1705708800000000
        |FROM s1 JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s1.value_cents != s2.value_cents
        |UNION ALL
        |SELECT s1.user_id, s1.value_cents, 1704844800000000, 1705708800000000
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s2.user_id IS NULL
        |UNION ALL
        |SELECT s2.user_id, s2.value_cents, 1705708800000000, NULL
        |FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id
        |WHERE s1.user_id IS NULL OR s1.value_cents != s2.value_cents
        |ORDER BY user_id, valid_from_us""".stripMargin,

    "t08_compact" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        |FROM (SELECT user_id, event_id, ts, event_type,
        |        lag(event_type) OVER (PARTITION BY user_id
        |                              ORDER BY ts, event_id) AS pv
        |      FROM events)
        |WHERE pv IS DISTINCT FROM event_type
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "t09_rollup_weekly" ->
      """SELECT user_id,
        |  CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT) AS bucket,
        |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_cents,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin,

    // t09b maintains the index incrementally engine-side; the answer must
    // equal the from-raw weekly aggregation — same oracle as t09.
    "t09b_rollup_incremental" ->
      """SELECT user_id,
        |  CAST((CAST(ts AS DATE) - DATE '2024-01-01') // 7 AS BIGINT) AS bucket,
        |  min(CAST(round(value*100) AS BIGINT)) AS min_cents,
        |  max(CAST(round(value*100) AS BIGINT)) AS max_cents,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY user_id, bucket""".stripMargin,

    "t15_bitemporal_read" ->
      """SELECT user_id, event_id, CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events
        |      WHERE epoch_us(CAST(ts AS TIMESTAMP))
        |              + (event_id % 5) * 86400000000
        |            <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
        |        AND ts <= TIMESTAMP '2024-01-13 00:00:00')
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // t41: the t06 session CTE aggregated per session + a user-keyed
    // lag for the idle gap.
    "t41_session_stats" ->
      """WITH x AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |g AS (SELECT user_id, CAST(sid AS BIGINT) AS session_id,
        |    epoch_us(CAST(min(ts) AS TIMESTAMP)) AS start_us,
        |    epoch_us(CAST(max(ts) AS TIMESTAMP)) AS end_us,
        |    count(*) AS n_events
        |  FROM s GROUP BY user_id, sid)
        |SELECT user_id, session_id, start_us, end_us,
        |  end_us - start_us AS duration_us, n_events,
        |  coalesce(start_us - lag(end_us) OVER (PARTITION BY user_id
        |                                        ORDER BY session_id), -1)
        |    AS idle_us
        |FROM g ORDER BY user_id, session_id""".stripMargin,

    // t40: the two rn=1 knowledge-time reads full-joined; a row
    // survives iff the winning change point differs.
    "t40_bitemporal_diff" ->
      """WITH s1 AS (SELECT user_id, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM (SELECT user_id, event_id, value,
        |          row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events
        |        WHERE epoch_us(CAST(ts AS TIMESTAMP))
        |                + (event_id % 5) * 86400000000
        |              <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
        |          AND ts <= TIMESTAMP '2024-01-13 00:00:00')
        |  WHERE rn = 1),
        |s2 AS (SELECT user_id, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM (SELECT user_id, event_id, value,
        |          row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events
        |        WHERE epoch_us(CAST(ts AS TIMESTAMP))
        |                + (event_id % 5) * 86400000000
        |              <= epoch_us(TIMESTAMP '2024-01-20 00:00:00')
        |          AND ts <= TIMESTAMP '2024-01-13 00:00:00')
        |  WHERE rn = 1)
        |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
        |  coalesce(s1.event_id, -1) AS old_event,
        |  coalesce(s1.cents, -1) AS old_cents,
        |  coalesce(s2.event_id, -1) AS new_event,
        |  coalesce(s2.cents, -1) AS new_cents
        |FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
        |WHERE s1.event_id IS NULL OR s2.event_id IS NULL
        |   OR s1.event_id <> s2.event_id
        |ORDER BY user_id""".stripMargin,

    // t15b drives the identical bitemporal read from SQL text — same
    // oracle as t15.
    "t15b_bitemporal_sql" ->
      """SELECT user_id, event_id, CAST(round(value*100) AS BIGINT) AS val_cents
        |FROM (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |                           ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events
        |      WHERE epoch_us(CAST(ts AS TIMESTAMP))
        |              + (event_id % 5) * 86400000000
        |            <= epoch_us(TIMESTAMP '2024-01-15 00:00:00')
        |        AND ts <= TIMESTAMP '2024-01-13 00:00:00')
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    // t16 reads the day-PARTITIONED copy engine-side; the oracle is the
    // same day window over raw events (p_day = CAST(ts AS DATE) by
    // construction).
    "t16_pruned_timerange" ->
      """SELECT CAST(CAST(ts AS DATE) AS TIMESTAMP) AS day, event_type,
        |  count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-10'
        |  AND CAST(ts AS DATE) < DATE '2024-01-15'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // t16b's dim (every 7th day from 2024-01-01, 60-day horizon) is a
    // pure date predicate, so the oracle inlines it.
    "t16b_dpp_day_join" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events
        |WHERE CAST(ts AS DATE) >= DATE '2024-01-01'
        |  AND CAST(ts AS DATE) < DATE '2024-01-01' + 60
        |  AND (CAST(ts AS DATE) - DATE '2024-01-01') % 7 = 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t17_gap_detect" -> t17Oracle,

    "t19_coalesce_intervals" -> t19Oracle,

    // SQL-TVF twins: identical semantics, identical oracles.
    "t17b_gaps_sql" -> t17Oracle,
    "t29b_concurrency_sql" -> t29Oracle,

    "t19b_coalesce_sql" -> t19Oracle,

    "t25_resample_interp" ->
      """WITH span AS (SELECT user_id, date_trunc('day', min(ts)) AS d0,
        |                     date_trunc('day', max(ts)) AS d1
        |              FROM events GROUP BY 1),
        |g AS (SELECT user_id,
        |        unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
        |      FROM span),
        |o AS (SELECT user_id, ts, event_id,
        |        CAST(round(value*100) AS BIGINT) AS v FROM events),
        |x AS (SELECT g.user_id, g.day,
        |  (SELECT o.ts FROM o WHERE o.user_id = g.user_id AND o.ts <= g.day
        |   ORDER BY o.ts DESC, o.event_id DESC LIMIT 1) AS t0,
        |  (SELECT o.v  FROM o WHERE o.user_id = g.user_id AND o.ts <= g.day
        |   ORDER BY o.ts DESC, o.event_id DESC LIMIT 1) AS v0,
        |  (SELECT o.ts FROM o WHERE o.user_id = g.user_id AND o.ts >= g.day
        |   ORDER BY o.ts ASC, o.event_id ASC LIMIT 1) AS t1,
        |  (SELECT o.v  FROM o WHERE o.user_id = g.user_id AND o.ts >= g.day
        |   ORDER BY o.ts ASC, o.event_id ASC LIMIT 1) AS v1
        | FROM g)
        |SELECT user_id, CAST(day AS TIMESTAMP) AS day,
        |  CAST(CASE WHEN t0 IS NULL THEN v1
        |       WHEN t1 IS NULL OR epoch_us(t1) <= epoch_us(t0) THEN v0
        |       ELSE (v0 * (epoch_us(t1) - epoch_us(day))
        |             + v1 * (epoch_us(day) - epoch_us(t0)))
        |            // (epoch_us(t1) - epoch_us(t0)) END AS BIGINT)
        |    AS interp_cents
        |FROM x ORDER BY user_id, day""".stripMargin,

    // Brute-force twin of the delta plan: every (day, user) end-of-day
    // snapshot materialized directly — O(|days|·|events|), fine at
    // oracle scale, exactly what the engine's delta encoding avoids.
    "t30_eop_balance" ->
      """WITH e AS (SELECT user_id, event_id, ts,
        |    CAST(round(value*100) AS BIGINT) AS cents,
        |    date_trunc('day', ts) AS day
        |  FROM events),
        |b AS (SELECT min(day) AS lo, max(day) AS hi FROM e),
        |days AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))
        |           AS day FROM b),
        |x AS (SELECT d.day AS day, e.user_id, e.cents,
        |        row_number() OVER (PARTITION BY d.day, e.user_id
        |                           ORDER BY e.ts DESC, e.event_id DESC)
        |          AS rn
        |      FROM days d JOIN e ON e.day <= d.day)
        |SELECT CAST(day AS TIMESTAMP) AS day, count(*) AS n_users,
        |  CAST(sum(cents) AS BIGINT) AS eod_total_cents
        |FROM x WHERE rn = 1 GROUP BY day ORDER BY day""".stripMargin,

    "t23_date_spine" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('day', min(ts)) AS lo,
        |             date_trunc('day', max(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day,
        |         t.event_type
        |  FROM b, (SELECT DISTINCT event_type FROM events) t)
        |SELECT CAST(s.day AS TIMESTAMP) AS day, s.event_type,
        |  coalesce(d.n, 0) AS n
        |FROM spine s LEFT JOIN daily d
        |  ON d.day = s.day AND d.event_type = s.event_type
        |ORDER BY 1, 2""".stripMargin,

    "t26_wow_change" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('day', min(ts)) AS lo,
        |             date_trunc('day', max(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day,
        |         t.event_type
        |  FROM b, (SELECT DISTINCT event_type FROM events) t),
        |dense AS (
        |  SELECT s.day, s.event_type, coalesce(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d
        |    ON d.day = s.day AND d.event_type = s.event_type),
        |lagged AS (
        |  SELECT day, event_type, n,
        |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS n_prev
        |  FROM dense)
        |SELECT CAST(day AS TIMESTAMP) AS day, event_type, n, n_prev,
        |  n - n_prev AS delta
        |FROM lagged WHERE n_prev IS NOT NULL
        |ORDER BY 1, 2""".stripMargin,

    "t24_ohlc_bars" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('day', ts) AS day,
        |    CAST(round(value*100) AS BIGINT) AS v,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts, event_id) AS rn_a,
        |    row_number() OVER (PARTITION BY user_id, date_trunc('day', ts)
        |      ORDER BY ts DESC, event_id DESC) AS rn_d
        |  FROM events)
        |SELECT user_id, CAST(day AS TIMESTAMP) AS day, count(*) AS n,
        |  max(CASE WHEN rn_a = 1 THEN v END) AS open_cents,
        |  max(v) AS high_cents, min(v) AS low_cents,
        |  max(CASE WHEN rn_d = 1 THEN v END) AS close_cents
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // t22: compaction replay (lag over the entity shuffle keeps only
    // state CHANGES), then lead() closes each interval; open tails drop.
    "t22_time_in_state" ->
      """WITH ch AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS pv
        |  FROM events),
        |cx AS (SELECT user_id, event_id, ts, event_type FROM ch
        |       WHERE pv IS DISTINCT FROM event_type),
        |iv AS (SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id
        |                   ORDER BY ts, event_id) AS vt
        |  FROM cx)
        |SELECT event_type, count(*) AS n_intervals,
        |  CAST(sum(epoch_us(CAST(vt AS TIMESTAMP))
        |       - epoch_us(CAST(vf AS TIMESTAMP))) AS BIGINT) AS held_us
        |FROM iv WHERE vt IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "t29_concurrency" -> t29Oracle,

    // The quadratic form the engine avoids: a user-keyed join widened
    // by the strict time predicate, one group per order.
    "t32_pit_features" ->
      """WITH e AS (SELECT user_id, ts, event_id, event_type,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |p AS (SELECT o_orderkey, o_custkey % 50 AS user_id,
        |    o_orderdate FROM orders),
        |j AS (SELECT p.o_orderkey, e.cents, e.event_type, e.ts, e.event_id
        |  FROM p LEFT JOIN e ON e.user_id = p.user_id
        |    AND e.ts < p.o_orderdate)
        |SELECT o_orderkey,
        |  CAST(count(event_id) AS BIGINT) AS n_prior,
        |  CAST(coalesce(sum(cents), 0) AS BIGINT) AS cents_prior,
        |  coalesce(max_by(event_type,
        |    CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS HUGEINT) * 10000000
        |      + event_id), 'none') AS last_type
        |FROM j GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin,

    // Per-purchase best-touch via the quadratic inequality join the
    // engine never runs; the (ts, event_id) lexicographic tie rule is
    // the same HUGEINT-encoded max_by key as t32's.
    "t33_attribution" ->
      """WITH p AS (SELECT user_id, ts, event_id,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |t AS (SELECT user_id, ts, event_id, event_type FROM events
        |      WHERE event_type IN ('click', 'view')),
        |j AS (SELECT p.event_id AS pid, p.cents,
        |    max_by(t.event_type,
        |      CAST(epoch_us(CAST(t.ts AS TIMESTAMP)) AS HUGEINT) * 10000000
        |        + t.event_id) AS lt
        |  FROM p LEFT JOIN t ON t.user_id = p.user_id
        |    AND (t.ts < p.ts OR (t.ts = p.ts AND t.event_id < p.event_id))
        |    AND epoch_us(CAST(t.ts AS TIMESTAMP))
        |        >= epoch_us(CAST(p.ts AS TIMESTAMP)) - 604800000000
        |  GROUP BY p.event_id, p.cents)
        |SELECT coalesce(lt, 'direct') AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS cents_revenue
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // Dense-spine replay (t23's CTE), then the same exact rank-pick
    // medians; isodow-1 == Spark's weekday (0 = Monday).
    "t34_seasonal_anomaly" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('day', min(ts)) AS lo,
        |             date_trunc('day', max(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day,
        |         t.event_type
        |  FROM b, (SELECT DISTINCT event_type FROM events) t),
        |dd AS (SELECT CAST(s.day AS TIMESTAMP) AS day, s.event_type,
        |    coalesce(d.n, 0) AS n,
        |    CAST(isodow(s.day) - 1 AS BIGINT) AS dow
        |  FROM spine s LEFT JOIN daily d
        |    ON d.day = s.day AND d.event_type = s.event_type),
        |medd AS (SELECT event_type, dow, n AS med_dow FROM (
        |    SELECT event_type, dow, n, day,
        |      row_number() OVER (PARTITION BY event_type, dow
        |                         ORDER BY n, day) AS rn,
        |      count(*) OVER (PARTITION BY event_type, dow) AS cnt
        |    FROM dd) WHERE rn = (cnt + 1) // 2),
        |r AS (SELECT dd.day, dd.event_type, dd.n, medd.med_dow,
        |    dd.n - medd.med_dow AS resid
        |  FROM dd JOIN medd USING (event_type, dow)),
        |mad AS (SELECT event_type, abs(resid) AS mad FROM (
        |    SELECT event_type, resid, day,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY abs(resid), day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM r) WHERE rn = (cnt + 1) // 2),
        |top AS (SELECT r.event_type, r.day, r.n, r.med_dow, r.resid,
        |    mad.mad,
        |    row_number() OVER (PARTITION BY r.event_type
        |                       ORDER BY abs(r.resid) DESC, r.day) AS rk
        |  FROM r JOIN mad USING (event_type))
        |SELECT event_type, day, n, med_dow, resid, mad,
        |  abs(resid) > 3 * mad AS is_anomaly
        |FROM top WHERE rk <= 5 ORDER BY event_type, day""".stripMargin,

    "t35_churn_risk" ->
      """WITH e AS (SELECT user_id,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us, event_id
        |  FROM events),
        |now_t AS (SELECT max(ts_us) AS now_us FROM e),
        |g AS (SELECT user_id, ts_us - lag(ts_us)
        |    OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS gap_us
        |  FROM e),
        |g2 AS (SELECT user_id, gap_us FROM g WHERE gap_us IS NOT NULL),
        |med AS (SELECT user_id, gap_us AS med_gap_us,
        |    cnt + 1 AS n_events FROM (
        |    SELECT user_id, gap_us,
        |      row_number() OVER (PARTITION BY user_id
        |                         ORDER BY gap_us) AS rn,
        |      count(*) OVER (PARTITION BY user_id) AS cnt FROM g2)
        |  WHERE rn = (cnt + 1) // 2 AND cnt >= 2),
        |lastt AS (SELECT user_id, max(ts_us) AS last_us FROM e GROUP BY 1)
        |SELECT m.user_id, m.n_events, m.med_gap_us,
        |  n.now_us - l.last_us AS silence_us,
        |  n.now_us - l.last_us > 3 * m.med_gap_us AS at_risk
        |FROM med m JOIN lastt l USING (user_id) CROSS JOIN now_t n
        |ORDER BY m.user_id""".stripMargin,

    "t36_rolling_trend" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('day', min(ts)) AS lo,
        |             date_trunc('day', max(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day,
        |         t.event_type
        |  FROM b, (SELECT DISTINCT event_type FROM events) t),
        |dense AS (SELECT CAST(s.day AS TIMESTAMP) AS day, s.event_type,
        |    coalesce(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d
        |    ON d.day = s.day AND d.event_type = s.event_type),
        |d2 AS (SELECT event_type, day, n,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |                            ORDER BY day) AS BIGINT) AS x
        |  FROM dense),
        |r AS (SELECT event_type, day,
        |    count(*) OVER w AS m,
        |    sum(x) OVER w AS sx, sum(n) OVER w AS sy,
        |    sum(x*n) OVER w AS sxy, sum(x*x) OVER w AS sxx
        |  FROM d2 WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 27 PRECEDING AND CURRENT ROW))
        |SELECT event_type, day,
        |  CASE WHEN m*sxy - sx*sy >= 0
        |    THEN CAST(1000000*(m*sxy - sx*sy) // (m*sxx - sx*sx)
        |      AS BIGINT)
        |    ELSE -CAST((1000000*(sx*sy - m*sxy)) // (m*sxx - sx*sx)
        |      AS BIGINT)
        |  END AS slope_e6
        |FROM r WHERE m = 28 ORDER BY event_type, day""".stripMargin,

    // t38: the same day-partial histogram build + range re-agg + rank
    // pick the engine runs — hash equality proves the index decomposes
    // losslessly.
    // t39: the interleaved-window replay — grid rows carry NULLs so
    // IGNORE-NULLS last/first pick the bracketing events; HUGEINT
    // products mirror the engine's decimal(38,0); // and div both
    // truncate toward zero (all quantities non-negative here anyway).
    "t39_resample_interpolate" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
        |    event_id AS tie, CAST(round(value*100) AS BIGINT) AS v
        |  FROM events),
        |b AS (SELECT user_id, min(ts) AS mn, max(ts) AS mx FROM e
        |  GROUP BY 1),
        |g AS (SELECT user_id, CAST(t AS TIMESTAMP) AS t
        |  FROM (SELECT user_id, mn,
        |      unnest(generate_series(date_trunc('day', mn), mx,
        |        INTERVAL 1 DAY)) AS t
        |    FROM b) WHERE CAST(t AS TIMESTAMP) >= mn),
        |u AS (
        |  SELECT user_id, ts, 0 AS isg, tie, v FROM e
        |  UNION ALL
        |  SELECT user_id, t, 1, 9223372036854775807, NULL FROM g),
        |w AS (SELECT user_id, ts, isg, epoch_us(ts) AS us,
        |    last_value(v IGNORE NULLS) OVER pw AS v0,
        |    last_value(CASE WHEN isg = 0 THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER pw AS t0,
        |    first_value(v IGNORE NULLS) OVER nw AS v1,
        |    first_value(CASE WHEN isg = 0 THEN epoch_us(ts) END
        |      IGNORE NULLS) OVER nw AS t1
        |  FROM u
        |  WINDOW pw AS (PARTITION BY user_id ORDER BY ts, isg, tie
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    nw AS (PARTITION BY user_id ORDER BY ts, isg, tie
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, ts AS day,
        |  CAST(CASE WHEN t1 IS NULL OR t1 = t0 THEN v0
        |       ELSE (CAST(v0 AS HUGEINT) * (t1 - us) +
        |             CAST(v1 AS HUGEINT) * (us - t0)) // (t1 - t0)
        |       END AS BIGINT) AS v_cents
        |FROM w WHERE isg = 1 ORDER BY user_id, day""".stripMargin,

    "t38_percentile_index" ->
      """WITH raw AS (SELECT event_type,
        |    CAST(round(value*100) AS BIGINT) AS v,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day
        |  FROM events),
        |bk AS (SELECT event_type, day,
        |    CAST(CASE WHEN v < 0 THEN 0 WHEN v >= 50000 THEN 26
        |         ELSE 1 + v // 2000 END AS BIGINT) AS bucket
        |  FROM raw),
        |parts AS (SELECT event_type, day, bucket, count(*) AS n
        |  FROM bk GROUP BY 1, 2, 3),
        |hist AS (SELECT event_type, bucket, sum(n) AS n FROM parts
        |  WHERE day BETWEEN TIMESTAMP '2024-01-08'
        |    AND TIMESTAMP '2024-01-21'
        |  GROUP BY 1, 2),
        |c AS (SELECT event_type, bucket, n,
        |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket) AS cum,
        |    sum(n) OVER (PARTITION BY event_type) AS total
        |  FROM hist),
        |ps AS (SELECT unnest([50, 90, 99]) AS p),
        |x AS (SELECT c.event_type, ps.p, c.total AS n,
        |    min(c.bucket) AS bucket
        |  FROM c CROSS JOIN ps
        |  WHERE c.cum >= (c.total * ps.p + 99) // 100
        |  GROUP BY 1, 2, 3)
        |SELECT event_type, p, CAST(n AS BIGINT) AS n, bucket,
        |  (bucket - 1) * 2000 AS lo_cents, bucket * 2000 AS hi_cents
        |FROM x ORDER BY event_type, p""".stripMargin,

    "t37_cusum" ->
      """WITH daily AS (
        |  SELECT date_trunc('day', ts) AS day, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT date_trunc('day', min(ts)) AS lo,
        |             date_trunc('day', max(ts)) AS hi FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day,
        |         t.event_type
        |  FROM b, (SELECT DISTINCT event_type FROM events) t),
        |dense AS (SELECT CAST(s.day AS TIMESTAMP) AS day, s.event_type,
        |    coalesce(d.n, 0) AS n
        |  FROM spine s LEFT JOIN daily d
        |    ON d.day = s.day AND d.event_type = s.event_type),
        |med AS (SELECT event_type, n AS med FROM (
        |    SELECT event_type, n, day,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY n, day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM dense) WHERE rn = (cnt + 1) // 2),
        |wd AS (SELECT dense.event_type, dense.day, dense.n,
        |    dense.n - med.med AS dev
        |  FROM dense JOIN med USING (event_type)),
        |mad AS (SELECT event_type, abs(dev) AS mad FROM (
        |    SELECT event_type, dev, day,
        |      row_number() OVER (PARTITION BY event_type
        |                         ORDER BY abs(dev), day) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS cnt
        |    FROM wd) WHERE rn = (cnt + 1) // 2),
        |p1 AS (SELECT event_type, day, n,
        |    sum(dev) OVER (PARTITION BY event_type ORDER BY day) AS p
        |  FROM wd),
        |p2 AS (SELECT event_type, day, n, p,
        |    min(least(p, 0)) OVER (PARTITION BY event_type
        |                           ORDER BY day) AS pmin
        |  FROM p1),
        |c AS (SELECT event_type, day, n, p - pmin AS cusum FROM p2),
        |top AS (SELECT c.event_type, c.day, c.n, c.cusum, mad.mad,
        |    row_number() OVER (PARTITION BY c.event_type
        |                       ORDER BY c.cusum DESC, c.day) AS rk
        |  FROM c JOIN mad USING (event_type))
        |SELECT event_type, day, n, CAST(cusum AS BIGINT) AS cusum,
        |  cusum > 5 * mad AS shifted
        |FROM top WHERE rk <= 5 ORDER BY event_type, day""".stripMargin,

    "t31_dwell_quantiles" ->
      """WITH ch AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS pv
        |  FROM events),
        |cx AS (SELECT user_id, event_id, ts, event_type FROM ch
        |       WHERE pv IS DISTINCT FROM event_type),
        |iv AS (SELECT user_id, event_type, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id
        |                   ORDER BY ts, event_id) AS vt
        |  FROM cx),
        |d AS (SELECT event_type,
        |    epoch_us(CAST(vt AS TIMESTAMP))
        |      - epoch_us(CAST(vf AS TIMESTAMP)) AS dur_us
        |  FROM iv WHERE vt IS NOT NULL),
        |r AS (SELECT event_type, dur_us,
        |    row_number() OVER (PARTITION BY event_type
        |                       ORDER BY dur_us) AS rn
        |  FROM d),
        |c AS (SELECT event_type, count(*) AS n FROM d GROUP BY 1)
        |SELECT r.event_type, c.n,
        |  CAST(min(CASE WHEN rn = (n + 1) // 2 THEN dur_us END)
        |    AS BIGINT) AS med_dur_us,
        |  CAST(min(CASE WHEN rn = (9 * n + 9) // 10 THEN dur_us END)
        |    AS BIGINT) AS p90_dur_us
        |FROM r JOIN c ON c.event_type = r.event_type
        |WHERE rn = (n + 1) // 2 OR rn = (9 * n + 9) // 10
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "t21_overlap_audit" ->
      """WITH iv AS (SELECT user_id, event_id, ts AS s,
        |    ts + INTERVAL 45 MINUTE AS e FROM events),
        |m AS (SELECT user_id, event_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS f
        |  FROM iv)
        |SELECT user_id, event_id,
        |  CAST(s AS TIMESTAMP) AS ov_from,
        |  CAST(least(e, f) AS TIMESTAMP) AS ov_to,
        |  epoch_us(CAST(least(e, f) AS TIMESTAMP))
        |    - epoch_us(CAST(s AS TIMESTAMP)) AS ov_us
        |FROM m WHERE f IS NOT NULL AND s < f
        |ORDER BY user_id, ov_from, event_id""".stripMargin,

    // t20: the t19 island replay, clipped to the audit window, then the
    // head/between/tail gaps via one more window pass.
    "t20_interval_complement" ->
      """WITH iv AS (SELECT user_id, event_id, ts AS s,
        |    ts + INTERVAL 45 MINUTE AS e FROM events),
        |m AS (SELECT user_id, event_id, s, e,
        |    max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS frontier
        |  FROM iv),
        |b AS (SELECT user_id, event_id, s, e,
        |    CASE WHEN frontier IS NULL OR s <= frontier THEN 0 ELSE 1 END
        |      AS brk
        |  FROM m),
        |g AS (SELECT user_id, s, e,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY s, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS island
        |  FROM b),
        |sp AS (SELECT user_id, min(s) AS ss, max(e) AS se
        |       FROM g GROUP BY user_id, island),
        |cl AS (SELECT user_id,
        |    greatest(ss, TIMESTAMP '2024-01-08 00:00:00') AS s,
        |    least(se, TIMESTAMP '2024-01-18 00:00:00') AS e
        |  FROM sp
        |  WHERE se > TIMESTAMP '2024-01-08 00:00:00'
        |    AND ss < TIMESTAMP '2024-01-18 00:00:00'),
        |x AS (SELECT user_id, s, e,
        |    lag(e) OVER (PARTITION BY user_id ORDER BY s) AS pe,
        |    row_number() OVER (PARTITION BY user_id ORDER BY s) AS rn,
        |    max(e) OVER (PARTITION BY user_id) AS me
        |  FROM cl)
        |SELECT user_id, CAST(gs AS TIMESTAMP) AS gap_start,
        |  CAST(ge AS TIMESTAMP) AS gap_end
        |FROM (
        |  SELECT user_id, TIMESTAMP '2024-01-08 00:00:00' AS gs, s AS ge
        |  FROM x WHERE rn = 1 AND s > TIMESTAMP '2024-01-08 00:00:00'
        |  UNION ALL
        |  SELECT user_id, pe, s FROM x WHERE pe IS NOT NULL AND s > pe
        |  UNION ALL
        |  SELECT user_id, e, TIMESTAMP '2024-01-18 00:00:00'
        |  FROM x WHERE e = me AND e < TIMESTAMP '2024-01-18 00:00:00')
        |ORDER BY user_id, gap_start""".stripMargin,

    "t10_txtime_read" ->
      """WITH s1 AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS value_cents
        |  FROM (SELECT user_id, value,
        |          row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE ts <= TIMESTAMP '2024-01-10 00:00:00')
        |  WHERE rn = 1),
        |s2 AS (SELECT user_id, CAST(round(value*100) AS BIGINT) AS value_cents
        |  FROM (SELECT user_id, value,
        |          row_number() OVER (PARTITION BY user_id
        |                             ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM events WHERE ts <= TIMESTAMP '2024-01-20 00:00:00')
        |  WHERE rn = 1)
        |SELECT coalesce(s1.user_id, s2.user_id) AS user_id,
        |  coalesce(s1.value_cents, -1) AS cents_at_t1,
        |  coalesce(s2.value_cents, -1) AS cents_at_t2
        |FROM s1 FULL JOIN s2 ON s1.user_id = s2.user_id
        |ORDER BY user_id""".stripMargin,

    "t28_time_to_event" ->
      """WITH c AS (SELECT event_id, user_id, ts FROM events
        |           WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts AS pts, event_id AS p_id FROM events
        |      WHERE event_type = 'purchase'),
        |x AS (SELECT c.event_id, c.user_id, c.ts,
        |  (SELECT p.pts FROM p WHERE p.user_id = c.user_id
        |     AND p.pts >= c.ts
        |   ORDER BY p.pts ASC, p.p_id ASC LIMIT 1) AS pts
        | FROM c)
        |SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
        |  coalesce(epoch_us(pts) - epoch_us(ts), -1) AS tt_us,
        |  pts IS NULL AS censored
        |FROM x ORDER BY event_id""".stripMargin,

    "t27_temporal_align" ->
      """WITH iv0 AS (SELECT user_id, event_id AS val_id, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
        |    CAST(round(value*100) AS BIGINT) AS val_cents
        |  FROM events),
        |a AS (SELECT user_id, val_id, val_cents, vf,
        |        least(vt, vf + INTERVAL 2 HOUR) AS vt
        |      FROM iv0 WHERE vt IS NOT NULL),
        |ct AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS pv
        |  FROM events),
        |cx AS (SELECT user_id, event_id AS type_id, ts, event_type FROM ct
        |       WHERE pv IS DISTINCT FROM event_type),
        |b AS (SELECT * FROM (
        |    SELECT user_id, type_id, event_type, ts AS tf,
        |      lead(ts) OVER (PARTITION BY user_id
        |                     ORDER BY ts, type_id) AS tt
        |    FROM cx) WHERE tt IS NOT NULL),
        |bp AS (SELECT DISTINCT user_id, bp FROM (
        |  SELECT user_id, vf AS bp FROM a
        |  UNION ALL SELECT user_id, vt FROM a
        |  UNION ALL SELECT user_id, tf FROM b
        |  UNION ALL SELECT user_id, tt FROM b)),
        |seg AS (SELECT * FROM (
        |  SELECT user_id, bp AS sf,
        |    lead(bp) OVER (PARTITION BY user_id ORDER BY bp) AS st
        |  FROM bp) WHERE st IS NOT NULL),
        |x AS (SELECT seg.user_id, seg.sf, seg.st,
        |  (SELECT a.val_id FROM a WHERE a.user_id = seg.user_id
        |     AND a.vf <= seg.sf AND a.vt >= seg.st
        |   ORDER BY a.vf DESC, a.val_id DESC LIMIT 1) AS val_id,
        |  (SELECT a.val_cents FROM a WHERE a.user_id = seg.user_id
        |     AND a.vf <= seg.sf AND a.vt >= seg.st
        |   ORDER BY a.vf DESC, a.val_id DESC LIMIT 1) AS val_cents,
        |  (SELECT b.type_id FROM b WHERE b.user_id = seg.user_id
        |     AND b.tf <= seg.sf AND b.tt >= seg.st
        |   ORDER BY b.tf DESC, b.type_id DESC LIMIT 1) AS type_id,
        |  (SELECT b.event_type FROM b WHERE b.user_id = seg.user_id
        |     AND b.tf <= seg.sf AND b.tt >= seg.st
        |   ORDER BY b.tf DESC, b.type_id DESC LIMIT 1) AS event_type
        | FROM seg)
        |SELECT user_id, CAST(sf AS TIMESTAMP) AS seg_from,
        |  CAST(st AS TIMESTAMP) AS seg_to,
        |  coalesce(val_id, -1) AS val_id,
        |  coalesce(val_cents, -1) AS val_cents,
        |  coalesce(type_id, -1) AS type_id,
        |  coalesce(event_type, 'none') AS event_type
        |FROM x WHERE val_id IS NOT NULL OR type_id IS NOT NULL
        |ORDER BY user_id, seg_from""".stripMargin,

    "t11_temporal_join" ->
      """WITH iv AS (SELECT user_id, event_id AS val_id, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
        |    CAST(round(value*100) AS BIGINT) AS val_cents
        |  FROM events),
        |ct AS (SELECT user_id, event_id, ts, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY ts, event_id) AS pv
        |  FROM events),
        |cx AS (SELECT user_id, event_id AS type_id, ts, event_type FROM ct
        |       WHERE pv IS DISTINCT FROM event_type),
        |tv AS (SELECT user_id, type_id, event_type, ts AS tf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, type_id) AS tt
        |  FROM cx)
        |SELECT * FROM (
        |  SELECT iv.user_id,
        |    CAST(greatest(iv.vf, tv.tf) AS TIMESTAMP) AS valid_from,
        |    CAST(CASE WHEN iv.vt IS NULL THEN tv.tt
        |              WHEN tv.tt IS NULL THEN iv.vt
        |              ELSE least(iv.vt, tv.tt) END AS TIMESTAMP) AS valid_to,
        |    iv.val_id, iv.val_cents, tv.type_id, tv.event_type
        |  FROM iv JOIN tv ON iv.user_id = tv.user_id
        |    AND (tv.tt IS NULL OR iv.vf < tv.tt)
        |    AND (iv.vt IS NULL OR tv.tf < iv.vt))
        |WHERE valid_to IS NULL OR valid_from < valid_to
        |ORDER BY user_id, valid_from, val_id, type_id""".stripMargin,

    "t12_time_weighted" ->
      """WITH iv AS (SELECT user_id, ts AS vf,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
        |    CAST(round(value*100) AS BIGINT) AS cents
        |  FROM events),
        |c AS (SELECT user_id, cents,
        |    epoch_us(CAST(greatest(vf, TIMESTAMP '2024-01-10 00:00:00')
        |      AS TIMESTAMP)) AS f,
        |    epoch_us(CAST(least(coalesce(vt, TIMESTAMP '2024-01-12 00:00:00'),
        |      TIMESTAMP '2024-01-12 00:00:00') AS TIMESTAMP)) AS t
        |  FROM iv
        |  WHERE vf < TIMESTAMP '2024-01-12 00:00:00'
        |    AND (vt IS NULL OR vt > TIMESTAMP '2024-01-10 00:00:00'))
        |SELECT user_id,
        |  CAST(sum(cents * (t - f)) AS BIGINT) AS weighted_cents_us,
        |  CAST(sum(t - f) AS BIGINT) AS covered_us
        |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin,

    "t06_sessionize" -> t06Oracle,

    "t06b_sessionize_sql" -> t06Oracle
  )

  private lazy val t06Oracle: String =
      """WITH x AS (SELECT user_id, ts, event_id,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |     s AS (SELECT user_id, ts,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS session_start,
        |  CAST(max(ts) AS TIMESTAMP) AS session_end, count(*) AS n_events
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin
}
