package graft.queries

import graft.{Det, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2.1, Q01–Q27). Every query follows the
  * §2.0 determinism rules: total ORDER BY, money in integer cents,
  * ratios rounded to 4 decimals. Oracle twins (DuckDB SQL) live in
  * [[oracles]] with IDENTICAL output column names and ordering.
  */
object Relational {
  import Det._

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** One-task total sort for ENUM-KEYED aggregate outputs (r19, the g03
    * idiom): when the result cardinality is bounded by the key domain
    * itself (returnflag×linestatus ≤ 9, nations = 25, market segments =
    * 5, event types = a fixed enum) — at 100 TB as much as at sf0.1 — a
    * global `orderBy` is the wrong plan at EVERY scale: its
    * range-partitioner sampling pass is a separate job that re-executes
    * the final aggregate stage, then shuffles a handful of rows into
    * `spark.sql.shuffle.partitions` almost-all-empty sort tasks.
    * Coalescing to one partition sorts the ≤ dozens of surviving rows in
    * a single task with no sampling pass and no extra exchange (the
    * narrow coalesce folds the final agg into that task; its input is
    * only the partial-agg rows, ≤ #groups × #map-tasks). Same rows, same
    * total order — the oracle hashes are unchanged. NOT for outputs
    * keyed by data-scaled ids (customers, orders): those keep orderBy.
    */
  private[queries] def enumSort(df: DataFrame, cols: String*): DataFrame =
    df.coalesce(1).sortWithinPartitions(cols.head, cols.tail: _*)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q01 — scan + filter + projection; predicate/column pushdown reaches
    // the parquet scan (verified via explain: PushedFilters + ReadSchema).
    "q01_scan_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-07-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Q02 — TPC-H-Q1-style pricing summary; two-phase HashAggregate.
    "q02_pricing_summary" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          sumCents(col("l_quantity")).as("sum_qty_cents"),
          sumCents(col("l_extendedprice")).as("sum_price_cents"),
          sumCents(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price_cents"),
          sum(graft.Det.cents(col("l_discount"))).as("__disc_cents"))
        // avg_disc HALF_UP'd to 4 decimals in pure integer arithmetic
        // (discounts are exact 2-decimal values): round4(avg(double))
        // leaks float summation order at x.xxxx5 boundaries — see T03.
        .select(col("l_returnflag"), col("l_linestatus"), col("cnt"),
          col("sum_qty_cents"), col("sum_price_cents"),
          col("sum_disc_price_cents"),
          (expr("(200 * __disc_cents + cnt) div (2 * cnt)") / lit(10000.0))
            .as("avg_disc"))
        .transform(enumSort(_, "l_returnflag", "l_linestatus"))
    }),

    // Q03 — shuffle hash join + agg: revenue by market segment.
    "q03_join_agg" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"), "inner")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sumCents(col("o_totalprice")).as("revenue_cents"))
        .transform(enumSort(_, "c_mktsegment"))
    }),

    // Q04 — 5-table join, revenue by nation for ASIA. region and nation are
    // tiny -> Catalyst broadcasts them; AQE reorders the rest.
    "q04_multi_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue_cents"))
        .transform(enumSort(_, "n_name"))
    }),

    // Q05 — explicit broadcast join of the part dimension.
    "q05_broadcast_join" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_items"),
          sumCents(col("l_extendedprice")).as("revenue_cents"))
        .transform(enumSort(_, "p_brand"))
    }),

    // Q06 — left outer join null semantics: customers incl. zero orders.
    "q06_outer_join" -> ((s, dir) => {
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    // Q07 — left semi join (EXISTS).
    "q07_semi_join" -> ((s, dir) => {
      val urgent = t(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      t(s, dir, "customer")
        .join(urgent, col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Q08 — left anti join (NOT EXISTS): parts never shipped after mid-2001.
    "q08_anti_join" -> ((s, dir) => {
      val recent = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("2001-01-01").cast("timestamp"))
      t(s, dir, "part")
        .join(recent, col("p_partkey") === col("l_partkey"), "left_anti")
        .select("p_partkey", "p_brand")
        .orderBy("p_partkey")
    }),

    // Q08b — NOT IN (null-aware anti join): the same survivors as Q08 but
    // through the NOT IN rewrite, which Spark executes as a null-aware
    // broadcast hash join (a DIFFERENT physical operator from Q08's plain
    // anti join; plan shape asserted in PlanShapeSpec, and the
    // null-poisoned NOT IN semantics are spec-covered there too).
    "q08b_not_in" -> ((s, dir) => {
      t(s, dir, "part").createOrReplaceTempView("graft_part")
      t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT p_partkey, p_brand FROM graft_part
        WHERE p_partkey NOT IN
          (SELECT l_partkey FROM graft_lineitem
           WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        ORDER BY p_partkey""")
    }),

    // Q09 — range self-join: pairs of events of the same user within 5
    // minutes, via the banded interval join (one shuffle on (key, band),
    // no per-key quadratic — the 150-user key domain at sf0.1 would make a
    // plain key join enumerate 66M pairs).
    "q09_range_join" -> ((s, dir) => {
      val e = t(s, dir, "events").select("event_id", "user_id", "ts")
      val a = e.select(col("event_id").as("a_id"), col("user_id"),
        col("ts").as("a_ts"))
      val b = e.select(col("event_id").as("b_id"),
        col("user_id").as("user_id"), col("ts").as("b_ts"))
      graft.ops.RangeJoin.banded(a, b, key = "user_id",
          aTs = "a_ts", bTs = "b_ts", lowerUs = 0L, upperUs = 300000000L)
        .select(col("user_id"), col("a_id"), col("b_id"),
          (graft.Det.epochUs(col("b_ts")) - graft.Det.epochUs(col("a_ts"))).as("gap_us"))
        .orderBy("user_id", "a_id", "b_id")
    }),

    // Q11 — window ranking: top-3 most recent orders per customer.
    //
    // r20 range-first idiom (guide §2.4 "establish the partitioning once"):
    // a window whose terminal orderBy starts with the window's partition
    // key pays TWO exchanges as written naively — hashpartitioning(key)
    // for the window, then rangepartitioning(key, …) for the sort, whose
    // range-sampling pass re-executes the whole window stage. Range-
    // partitioning UP FRONT serves both: RangePartitioning(key) satisfies
    // the window's ClusteredDistribution(key) AND — by Catalyst's prefix
    // rule (equal keys are co-located and partitions are ordered) — the
    // terminal sort's OrderedDistribution(key, …), so the sort becomes a
    // partition-local sort with NO second exchange and the sampling scans
    // the raw input, not the window output. One exchange, same rows, same
    // total order (oracle hashes unchanged). Interleaved A/B
    // (OPTIMIZATION_r20.md): q11 0.269 → 0.213 s, t06 0.254 → 0.203 s;
    // plan 2 Exchange → 1.
    "q11_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_orderdate").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .repartitionByRange(col("o_custkey"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "rn", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey", "rn")
    }),

    // Q11b — ranking/navigation window completeness: ntile + first/last/
    // nth_value over an explicit full frame. Every output is an INTEGER
    // (ids, decile) — percent_rank/cume_dist are deliberately absent from
    // the hash set: their (rank-1)/(n-1) doubles hit the same cross-engine
    // round(x,4) exact-half risk t03 documents.
    "q11b_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(cents(col("value")).desc, col("event_id").asc)
      val full = w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      t(s, dir, "events")
        .repartitionByRange(col("event_type")) // r20 range-first (see q11)
        .select(col("event_type"), col("event_id"),
          ntile(10).over(w).as("decile"),
          first(col("event_id")).over(w).as("top_id"),
          last(col("event_id")).over(full).as("bottom_id"),
          nth_value(col("event_id"), 3).over(full).as("third_id"))
        .orderBy("event_type", "event_id")
    }),

    // Q30 — recursive CTE (Spark 4.1 UnionLoop): depth-bounded walk from
    // the smallest co-part vertex, min depth per reached vertex — the
    // same SQL text runs on both engines (graph registered as a temp
    // view on the Spark side, inlined as a CTE in the oracle).
    "q30_recursive_cte" -> ((s, dir) => {
      graft.ops.Graphs.copartEdges(s, dir)
        .createOrReplaceTempView("graft_copart_e")
      s.sql("""
        WITH RECURSIVE walk(id, d) AS (
          SELECT (SELECT min(src) FROM graft_copart_e) AS id, 0 AS d
          UNION ALL
          SELECT e.dst, w.d + 1
          FROM walk w JOIN graft_copart_e e ON e.src = w.id
          WHERE w.d < 3)
        SELECT id, min(d) AS dist FROM walk GROUP BY id ORDER BY id""")
    }),

    // Q32 — LATERAL correlated join (Spark 4 LateralJoin operator): for
    // each of the 10 highest-value orders, its top-2 lineitems by
    // quantity — "top-N per outer row", the shape that needs a correlated
    // subquery with LIMIT (a plain join + window is its decorrelated
    // twin, but LATERAL is the user-facing operator). Same SQL text runs
    // in DuckDB.
    "q32_lateral_topn" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("graft_orders")
      t(s, dir, "lineitem").createOrReplaceTempView("graft_lineitem")
      s.sql("""
        SELECT o.o_orderkey, l.l_linenumber, l.qty_cents
        FROM (SELECT o_orderkey FROM graft_orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) o,
        LATERAL (SELECT l_linenumber,
                   CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents
                 FROM graft_lineitem
                 WHERE l_orderkey = o.o_orderkey
                 ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
        ORDER BY o.o_orderkey, l.l_linenumber""")
    }),

    // Q15c — conditional (FILTER-clause) aggregates: one scan, several
    // predicated aggregates — no Expand, no self-joins.
    "q15c_conditional_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          count(when(col("event_type") === "purchase", 1)).as("n_purchase"),
          coalesce(sum(when(col("event_type") === "purchase",
            cents(col("value")))), lit(0L)).as("purchase_cents"),
          max(when(col("event_type") === "error", col("ts")))
            .as("last_error_ts"))
        .orderBy("user_id")
    }),

    // Q33 — ordered conversion funnel: per user, first view -> first
    // click AT-OR-AFTER that view -> first purchase at-or-after that
    // click; stage counts. Three tiny per-user aggregations chained by
    // joins (each conditional min depends on the previous stage's time),
    // no window over the full stream.
    "q33_funnel" -> ((s, dir) => {
      val e = t(s, dir, "events").select("user_id", "event_type", "ts")
      val v = e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("v_ts"))
      val c = e.filter(col("event_type") === "click")
        .join(v, "user_id").filter(col("ts") >= col("v_ts"))
        .groupBy("user_id").agg(min("ts").as("c_ts"))
      val p = e.filter(col("event_type") === "purchase")
        .join(c, "user_id").filter(col("ts") >= col("c_ts"))
        .groupBy("user_id").agg(min("ts").as("p_ts"))
      val counts = Seq(
        ("1_view", v), ("2_click", c), ("3_purchase", p))
      counts.map { case (name, df) =>
        df.agg(lit(name).as("stage"), count(lit(1)).as("n_users"))
      }.reduce(_.unionAll(_)).orderBy("stage")
    }),

    // Q34 — retention cohorts: users grouped by first-seen week (cohort),
    // counted as active in each later week — the (cohort, week-offset)
    // retention triangle. Two aggs and one join; weeks are integer
    // day-diffs div 7 (both engines identical).
    "q34_retention" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("user_id"),
          floor(datediff(col("ts"), lit("2024-01-01").cast("date")) /
            lit(7.0)).cast("long").as("wk"))
      val cohort = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      e.join(cohort, "user_id")
        .groupBy("cohort_wk", "wk")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort_wk", "wk")
    }),

    // Q35 — salted join through a synthesized hot key: HALF of all events
    // collapse onto key 0 (the "all logged-out traffic on one anonymous
    // id" shape — the single hot key AQE's runtime split can't always
    // save, e.g. inside storage-partitioned joins). Skew.saltedJoin
    // splits the hot key across `buckets` shuffle partitions by salting
    // the left side and replicating the dim; the result must equal a
    // plain inner join, which is exactly what the DuckDB oracle runs.
    // PlanShapeSpec separately demonstrates AQE's own skew-join rewrite
    // firing on the UNSALTED form of this join.
    "q35_salted_skew_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(when(col("user_id") % 2 === 0, lit(0L))
            .otherwise(col("user_id")).as("k"),
          cents(col("value")).as("v_cents"))
      val dim = ev.select(col("k")).distinct()
        .withColumn("grp", pmod(col("k"), lit(7L)))
      graft.ops.Skew.saltedJoin(ev, dim, "k", buckets = 8)
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum(col("v_cents")).as("sum_cents"))
        .orderBy("grp")
    }),

    // Q36 — deterministic k-per-group downsample: 5 events per type
    // picked by md5 of the id — rerun-stable, partitioning-stable AND
    // engine-stable (unlike TABLESAMPLE/rand()), the property an eval
    // holdout or debugging slice needs. One window over the group
    // shuffle; the hash is the sort key, so no RNG state anywhere.
    "q36_hash_sample" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(md5(col("event_id").cast("string")), col("event_id"))
      t(s, dir, "events")
        .repartitionByRange(col("event_type")) // r20 range-first (see q11)
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= 5)
        .select("event_type", "event_id")
        .orderBy("event_type", "event_id")
    }),

    // Q37 — IGNORE NULLS forward-fill window: the last NON-NULL value
    // at-or-before each row (sparse sensor readings carried forward —
    // the window-function form of T13's grid resample). The fixture has
    // no nulls, so a deterministic mask (every 3rd event by id) blanks
    // values IDENTICALLY on both engines first; last(..., ignoreNulls)
    // over an unbounded-preceding ROWS frame then fills them. Rows
    // before an entity's first non-null stay null (coalesced to -1 for
    // the cross-engine total order).
    "q37_ffill_ignore_nulls" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .repartitionByRange(col("user_id")) // r20 range-first (see q11)
        .withColumn("sparse_cents",
          when(col("event_id") % 3 === 0, lit(null).cast("long"))
            .otherwise(cents(col("value"))))
        .withColumn("filled_cents",
          last(col("sparse_cents"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("event_id"), col("ts"),
          coalesce(col("sparse_cents"), lit(-1L)).as("sparse_cents"),
          coalesce(col("filled_cents"), lit(-1L)).as("filled_cents"))
        .orderBy("user_id", "ts", "event_id")
    }),

    // Q38 — rolling 7-day DISTINCT users per day (the WAU curve): exact,
    // not sketched, via contribution-explode — each (user, active day)
    // pair contributes to the 7 window-end days it falls in, then ONE
    // distinct aggregation per target day. count(DISTINCT) cannot slide
    // in a window frame on either engine; the explode turns it into a
    // plain groupBy at a bounded ×7 fan-out — at 100 TB the exploded
    // stream is (distinct user-days)×window/slide rows, far below the
    // event log, and the distinct agg partial-aggregates map-side.
    // Days past the last activity are clipped (broadcast 1-row max).
    "q38_rolling_distinct" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .distinct()
      val maxDay = ud.agg(max(col("day")).as("max_day"))
      ud.select(col("user_id"),
          explode(sequence(col("day"),
            col("day") + expr("interval 6 days"),
            expr("interval 1 day"))).as("wday"))
        .crossJoin(broadcast(maxDay))
        .filter(col("wday") <= col("max_day"))
        .groupBy("wday")
        .agg(countDistinct(col("user_id")).as("wau"))
        .orderBy("wday")
    }),

    // Q60 — EXACT rolling 7-day median per event_type: q38's
    // contribution-explode applied to ORDER STATISTICS — each event
    // contributes to the ≤7 window-end days it falls in, then the
    // lower median is the rank-((n+1) div 2) pick inside each
    // (type, window-day) group. The rolling robust baseline a rolling
    // MEAN can't give, made exact and hash-stable: a bounded ×7
    // fan-out + one rank window, no per-day re-scan — survives 100×
    // because the fan-out is a constant, not a window length.
    "q60_rolling_median" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), date_trunc("DAY", col("ts")).as("day"),
          cents(col("value")).as("v"), col("event_id"))
      val maxDay = e.agg(max(col("day")).as("max_day"))
      val contrib = e.select(col("event_type"), col("v"), col("event_id"),
          explode(sequence(col("day"),
            col("day") + expr("interval 6 days"),
            expr("interval 1 day"))).as("wday"))
        .crossJoin(broadcast(maxDay))
        .filter(col("wday") <= col("max_day"))
      contrib
        .withColumn("r", row_number().over(
          Window.partitionBy("event_type", "wday")
            .orderBy(col("v"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type", "wday")))
        .filter(col("r") === expr("(n + 1) div 2"))
        .select(col("event_type"), col("wday"), col("n"),
          col("v").as("median_cents"))
        .orderBy("event_type", "wday")
    }),

    // Q61 — exact rolling QUARTILE BANDS (NEW r14, q60's machinery
    // generalized to order-statistic TRIPLES): per (type, 7-day
    // window-end day), the rank-picked q1/median/q3 plus the IQR — the
    // rolling robust dispersion band a monitoring read draws. Rank
    // conventions pinned identically in both engines: r1 = (n+3) div 4,
    // r2 = (n+1) div 2, r3 = (3n+1) div 4 (1-indexed lower quartile /
    // lower median / upper quartile). Same plan as q60 — bounded ×7
    // contribution explode + ONE rank window + a conditional agg that
    // picks all three ranks in a single pass (no per-quantile window).
    "q61_rolling_iqr" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_type"), date_trunc("DAY", col("ts")).as("day"),
          cents(col("value")).as("v"), col("event_id"))
      val maxDay = e.agg(max(col("day")).as("max_day"))
      val contrib = e.select(col("event_type"), col("v"), col("event_id"),
          explode(sequence(col("day"),
            col("day") + expr("interval 6 days"),
            expr("interval 1 day"))).as("wday"))
        .crossJoin(broadcast(maxDay))
        .filter(col("wday") <= col("max_day"))
      contrib
        .withColumn("r", row_number().over(
          Window.partitionBy("event_type", "wday")
            .orderBy(col("v"), col("event_id"))))
        .withColumn("n", count(lit(1)).over(
          Window.partitionBy("event_type", "wday")))
        .groupBy("event_type", "wday")
        .agg(max(col("n")).as("n"),
          max(when(col("r") === expr("(n + 3) div 4"), col("v")))
            .as("q1_cents"),
          max(when(col("r") === expr("(n + 1) div 2"), col("v")))
            .as("median_cents"),
          max(when(col("r") === expr("(3 * n + 1) div 4"), col("v")))
            .as("q3_cents"))
        .withColumn("iqr_cents", col("q3_cents") - col("q1_cents"))
        .orderBy("event_type", "wday")
    }),

    // Q62 — LONGEST ACTIVITY STREAK (NEW r14): per user, the longest
    // run of consecutive active days — the canonical gaps-and-islands
    // read (distinct active days; day − row_number collapses each
    // consecutive run onto one island key; max island size). One
    // distinct + one user-keyed window + two aggs; hash-matched.
    "q62_longest_streak" -> ((s, dir) => {
      val days = t(s, dir, "events")
        .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy("user_id").orderBy("day")
      days.withColumn("rn", row_number().over(w))
        .withColumn("island", expr("date_sub(day, rn)"))
        .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
        .groupBy("user_id").agg(max("len").as("longest_streak"))
        .orderBy("user_id")
    }),

    // Q63 — SESSION-SCOPED FUNNEL (NEW r14): q33's view→click→purchase
    // progression required to complete INSIDE one t06 session — the
    // "does the funnel convert within a visit" read, which q33's
    // lifetime-window form cannot answer. Per session the stage chain
    // is the earliest-qualifying fold (first view; first click strictly
    // after it; any purchase strictly after that), computed as three
    // conditional aggregates over the session dimension — no second
    // pass over raw events after the one sessionize shuffle. Output:
    // per user, sessions total and sessions converting.
    "q63_session_funnel" -> ((s, dir) => {
      val se = graft.ops.Temporal.sessionize(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          gapSeconds = 1800)
        .select(col("user_id"), col("session_id"), col("event_type"),
          graft.Det.epochUs(col("ts")).as("ts_us"))
      val v = se.groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "view", col("ts_us")))
          .as("v_us"))
      val c = se.join(v, Seq("user_id", "session_id"))
        .groupBy("user_id", "session_id")
        .agg(min(when(col("event_type") === "click" &&
          col("ts_us") > col("v_us"), col("ts_us"))).as("c_us"))
      val conv = se.join(c, Seq("user_id", "session_id"))
        .groupBy("user_id", "session_id")
        .agg(max(when(col("event_type") === "purchase" &&
          col("ts_us") > col("c_us"), 1L).otherwise(0L)).as("converted"))
      conv.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"),
          sum("converted").as("n_converting"))
        .orderBy("user_id")
    }),

    // Q12 — running (cumulative) sum per user, in cents so the running
    // total is integral and order-independent across engines.
    "q12_running_sum" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .repartitionByRange(col("user_id")) // r20 range-first (see q11)
        .withColumn("running_cents", sum(cents(col("value"))).over(w))
        .select("user_id", "event_id", "ts", "running_cents")
        .orderBy("user_id", "ts", "event_id")
    }),

    // Q12b — RANGE-frame window (time-based, vs Q12's ROWS frame): per
    // event, the sum of the same user's value cents in the trailing
    // 7 DAYS — frame membership decided by event-TIME distance, not row
    // count, including all ties. Ordered by epoch micros so the frame
    // bound is an exact integer (cross-engine identical); the (t-7d, t]
    // window is RANGE (7d-1us) PRECEDING .. CURRENT ROW.
    "q12b_range_frame" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts_us"))
        .rangeBetween(-(7L * 86400000000L - 1L), Window.currentRow)
      t(s, dir, "events")
        .repartitionByRange(col("user_id")) // r20 range-first (see q11)
        .withColumn("ts_us", graft.Det.epochUs(col("ts")))
        .withColumn("trail_cents", sum(cents(col("value"))).over(w))
        .select("user_id", "event_id", "ts", "trail_cents")
        .orderBy("user_id", "ts", "event_id")
    }),

    // Q13 — lag/lead: inter-event gap per user in microseconds.
    "q13_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .repartitionByRange(col("user_id")) // r20 range-first (see q11)
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("gap_us",
          graft.Det.epochUs(col("ts")) - graft.Det.epochUs(col("prev_ts")))
        .select("user_id", "event_id", "ts", "gap_us")
        .orderBy("user_id", "ts", "event_id")
    }),

    // Q14 — rollup with grouping_id; NULL group keys coalesced to 'ALL' so
    // cross-engine null-ordering differences can't bite.
    "q14_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          sumCents(col("l_extendedprice")).as("revenue_cents"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("cnt"), col("revenue_cents"))
        .orderBy("gid", "rf", "ls")
    }),

    // Q14b — cube over the same keys (adds the column-marginal rows
    // rollup lacks).
    "q14b_cube" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("cnt"),
          sumCents(col("l_extendedprice")).as("revenue_cents"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("gid"), col("cnt"), col("revenue_cents"))
        .orderBy("gid", "rf", "ls")
    }),

    // Q14c — explicit grouping sets via the SQL entry point.
    "q14c_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT coalesce(l_returnflag, 'ALL') AS rf,
               coalesce(l_linestatus, 'ALL') AS ls,
               count(*) AS cnt
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY rf, ls""")
    }),

    // Q15 — distinct aggregation (Expand + two-phase agg under the hood).
    "q15_distinct_agg" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("uniq_users"),
          count(lit(1)).as("cnt"))
        .transform(enumSort(_, "event_type"))
    }),

    // Q16 — approximate distinct (HLL). Tolerance-gated, NOT hash-matched
    // (no oracle entry); ScalaTest asserts |approx-exact|/exact < 5%.
    "q16_approx_distinct" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q16b — HLL sketch partial re-aggregation: the 100 TB distinct-count
    // pattern. A DataSketches HLL sketch is built per (day, event_type) —
    // the granularity a daily ingest job would persist — then the daily
    // sketches are union-merged and estimated. Because an HLL register
    // merge is a max, the union of the partials is EXACTLY the sketch of
    // the full stream regardless of partitioning/order: ToleranceSpec
    // asserts estimate equality with the one-shot sketch, plus a 5%
    // accuracy gate vs the exact distinct count. At scale the daily
    // sketch table is KBs/day vs TBs of raw — re-aggregation answers any
    // date-range distinct query without rescanning raw data.
    "q16b_hll_union" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
        .groupBy("event_type")
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("approx_users"))
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q16c — HLL set algebra: distinct viewers, purchasers, their union
    // (sketch merge) and intersection (inclusion–exclusion) — the sketch
    // way to answer "how many users did BOTH" without a distinct-pair
    // shuffle. Engine-only; ToleranceSpec gates all four against exact.
    "q16c_hll_intersect" -> ((s, dir) => {
      val e = t(s, dir, "events")
      def sk(tp: String, as: String) =
        e.filter(col("event_type") === tp)
          .agg(hll_sketch_agg(col("user_id"), 12).as(as))
      sk("view", "sk_v").crossJoin(sk("purchase", "sk_p"))
        .select(
          hll_sketch_estimate(col("sk_v")).as("n_view"),
          hll_sketch_estimate(col("sk_p")).as("n_purchase"),
          hll_sketch_estimate(hll_union(col("sk_v"), col("sk_p")))
            .as("n_union"))
        .withColumn("n_intersect",
          col("n_view") + col("n_purchase") - col("n_union"))
    }),

    // Q17 — top-k: TakeOrderedAndProject, no full sort at scale.
    "q17_topk" -> ((s, dir) => {
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // Q18 — set ops: union/intersect/except over two customer predicates,
    // tagged and stacked so one hash covers all three.
    "q18_set_ops" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val a = c.filter(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
      val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      val u = a.union(b).distinct().withColumn("op", lit("union"))
      val i = a.intersect(b).withColumn("op", lit("intersect"))
      val e = a.except(b).withColumn("op", lit("except"))
      u.unionByName(i).unionByName(e)
        .select("op", "c_custkey")
        .orderBy("op", "c_custkey")
    }),

    // Q18b — BAG-semantics set ops (EXCEPT ALL / INTERSECT ALL):
    // multiset difference keeps max(n_a − n_b, 0) copies per key and
    // multiset intersection min(n_a, n_b) — the multiplicity rules
    // DISTINCT-based set ops silently destroy (and the variant most
    // engines get subtly wrong). Reported as per-key copy counts for a
    // stable total order; hash-matched against DuckDB's EXCEPT
    // ALL/INTERSECT ALL.
    "q18b_set_ops_all" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.select(col("l_suppkey"))
      val b = li.filter(col("l_quantity") > 25).select(col("l_suppkey"))
      val e = a.exceptAll(b).withColumn("op", lit("except_all"))
      val i = a.intersectAll(b).withColumn("op", lit("intersect_all"))
      e.unionByName(i)
        .groupBy("op", "l_suppkey")
        .agg(count(lit(1)).as("n_copies"))
        .orderBy("op", "l_suppkey")
    }),

    // Q39 — RUNNING DISTINCT count ("new items seen to date"): per user
    // in event-time order, how many DISTINCT event types seen so far.
    // A distinct count cannot slide in a window frame on either engine;
    // the first-occurrence flag (row_number over (user, type) == 1)
    // turns it into a plain running sum — two windows, exact, no state
    // beyond the frames.
    "q39_running_distinct" -> ((s, dir) => {
      val firstSeen = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      val run = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("__first",
          when(row_number().over(firstSeen) === 1, 1L).otherwise(0L))
        .withColumn("n_types_seen", sum(col("__first")).over(run))
        .select("user_id", "event_id", "ts", "n_types_seen")
        .orderBy("user_id", "ts", "event_id")
    }),

    // Q41 — rank-DISTRIBUTION windows: dense_rank + percent_rank +
    // cume_dist over the (cents desc, id) total order. Both ratio
    // functions are a SINGLE IEEE division of exact integers —
    // deterministic cross-engine without rounding, unlike any
    // sum-then-divide float path (the t03 lesson's safe subset).
    "q41_rank_dist" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(cents(col("value")).desc, col("event_id").asc)
      t(s, dir, "events")
        .select(col("event_type"), col("event_id"),
          dense_rank().over(w).as("drk"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("event_type", "event_id")
    }),

    // Q40 — deterministic MODE per group: the most frequent user per
    // event type with an explicit total order (count desc, user asc) —
    // engines' built-in mode() leaves ties unspecified, which is
    // exactly the nondeterminism a hash-matched contract can't carry;
    // the window form pins it.
    "q40_mode" -> ((s, dir) => {
      val w = Window.partitionBy("event_type")
        .orderBy(desc("n"), col("user_id").asc)
      t(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("n"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select("event_type", "user_id", "n")
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q42 — sequence-pattern match (MATCH_RECOGNIZE-lite): per user, the
    // event-type string in (ts, event_id) order and the count of
    // NON-OVERLAPPING view→click→purchase runs inside it. Occurrences by
    // the replace trick — (len − len(replace(seq,'vcp','')))/3 — which
    // is the same greedy left-to-right scan both engines' replace does,
    // so the count is engine-portable without a pattern automaton.
    // collect_list carries no order guarantee, so the (ts, event_id,
    // code) structs are array_sort'ed BEFORE the codes are joined
    // (string_agg ORDER BY in the oracle): one agg, one window-free
    // pass, the sequence never leaves its user partition.
    "q42_seq_pattern" -> ((s, dir) => {
      val code = when(col("event_type") === "view", "v")
        .when(col("event_type") === "click", "c")
        .when(col("event_type") === "purchase", "p")
        .otherwise("x")
      t(s, dir, "events")
        .select(col("user_id"),
          struct(col("ts"), col("event_id"), code.as("code")).as("e"))
        .groupBy("user_id")
        .agg(array_join(
          transform(array_sort(collect_list(col("e"))),
            x => x.getField("code")), "").as("seq"))
        .withColumn("n_events", length(col("seq")).cast("long"))
        .withColumn("n_funnel_runs",
          expr("CAST((length(seq) - length(replace(seq, 'vcp', ''))) DIV 3 AS BIGINT)"))
        .filter(col("n_funnel_runs") > 0)
        .select("user_id", "n_events", "n_funnel_runs")
        .orderBy("user_id")
    }),

    // Q57 — PARAMETERIZED sequence-pattern matching (MATCH_RECOGNIZE-
    // lite): q42 generalized to a pattern ARGUMENT, matched by the
    // Patterns.matchCounts state-machine fold. Declared instance: the
    // 4-stage funnel view→click→view→purchase with gaps allowed (the
    // subsequence semantics real conversion funnels use — q42's
    // replace trick cannot express it). Hash-checked against a DuckDB
    // recursive-CTE replay of the same greedy machine.
    "q57_pattern_funnel" -> ((s, dir) =>
      graft.ops.Patterns.matchCounts(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          pattern = Seq("view", "click", "view", "purchase"),
          contiguous = false)
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")),

    // Q57b — the fixed-pattern instance: the SAME machine in contiguous
    // (KMP) mode on view→click→purchase must reproduce q42's replace-
    // trick result exactly — gated by sharing q42's oracle verbatim.
    "q57b_pattern_contiguous" -> ((s, dir) =>
      graft.ops.Patterns.matchCounts(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          pattern = Seq("view", "click", "purchase"),
          contiguous = true)
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches").as("n_funnel_runs"))
        .orderBy("user_id")),

    // Q57c — the time-bounded form every real funnel takes: q57's
    // subsequence machine with WITHIN 7 days — a completed
    // view→click→view→purchase run only counts if its last stage lands
    // ≤7 days after its first. Structural machine unchanged (q57 IS
    // this query at withinUs=None — PatternsSpec pins it); the oracle
    // is q57's recursive replay with one extra anchor column. On the
    // fixture the bound genuinely discriminates (130 of 150 users
    // retain a match; 290 of 443 matches survive).
    "q57c_pattern_within" -> ((s, dir) =>
      graft.ops.Patterns.matchCounts(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          pattern = Seq("view", "click", "view", "purchase"),
          contiguous = false, withinUs = Some(7L * 86400L * 1000000L))
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")),

    // Q57d — quantified stages (MATCH_RECOGNIZE `A B+ C`): contiguous
    // view click+ purchase — one view, one-or-more clicks, then the
    // purchase. Semantics pinned in Patterns.quantifiedCounts' scaladoc
    // (greedy intermediate stages, lazy final, naive restart) and in
    // PatternsSpec's greedy-vs-lazy cases. The oracle replays the
    // hand-derived 3-state DFA of this machine for this pattern
    // (start / view-seen / in-clicks) — an independent derivation, not
    // a port of the fold.
    "q57d_pattern_quantified" -> ((s, dir) =>
      graft.ops.Patterns.quantifiedCounts(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          stages = Seq(("view", 1, 1), ("click", 1, Int.MaxValue),
            ("purchase", 1, 1)))
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")),

    // Q57e — quantified stages + WITHIN (q57d ∧ q57c): view click+
    // purchase where the purchase lands ≤1 day after the anchoring
    // view. The anchor is the attempt's first consumed event — a
    // re-anchoring view RESTARTS the clock (the naive-restart re-try),
    // exactly the live-funnel reading; same greedy-anchor undercount
    // caveat as q57c vs MATCH_RECOGNIZE's re-anchoring WITHIN. On the
    // fixture the bound genuinely discriminates (45 of q57d's 66 users
    // retain a match; 60 of 93 matches survive). Oracle = q57d's
    // hand-derived DFA replay + the anchor column (a view always
    // stamps it) gating the count.
    "q57e_pattern_quant_within" -> ((s, dir) =>
      graft.ops.Patterns.quantifiedCounts(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          stages = Seq(("view", 1, 1), ("click", 1, Int.MaxValue),
            ("purchase", 1, 1)),
          withinUs = Some(86400L * 1000000L))
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")),

    // Q57f — RE-ANCHORING WITHIN (q57c's MATCH_RECOGNIZE-parity form,
    // NEW r14): the same view→click→view→purchase subsequence funnel
    // within 7 days, but a match counts if ANY anchor yields a bounded
    // completion — the greedy machine's stale-anchor undercount
    // (documented at q57c) is gone. Parallel attempts, latest live
    // anchor per stage, O(|pattern|) state (Patterns.reanchoredCounts;
    // count-equivalence to the operational smallest-bounded-anchor
    // semantics proven against a brute-force replay in PatternsSpec).
    // Oracle = a recursive replay of the per-stage-anchor machine
    // (prune / hit / descending advance / re-anchor per step).
    "q57f_pattern_reanchor" -> ((s, dir) =>
      graft.ops.Patterns.reanchoredCounts(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          pattern = Seq("view", "click", "view", "purchase"),
          withinUs = 7L * 86400L * 1000000L)
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")),

    // Q57g — q57f through the match_reanchored TVF (NEW r14): the
    // re-anchoring WITHIN counter from pure SQL; held to q57f's oracle
    // verbatim.
    "q57g_reanchor_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      t(s, dir, "events").createOrReplaceTempView("graft_q57g_events")
      s.sql("""SELECT entity AS user_id, n_events, n_matches
        |FROM match_reanchored('graft_q57g_events', 'user_id', 'ts',
        |       'event_id', 'event_type', 'view click view purchase',
        |       604800000000)
        |WHERE n_matches > 0 ORDER BY user_id""".stripMargin)
    }),

    // Q58b — the SQL door: q58 through the match_pattern TVF (the
    // t01b/q10e precedent — signature operators reachable from pure
    // SQL text), held to q58's oracle verbatim.
    "q58b_pattern_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      t(s, dir, "events").createOrReplaceTempView("graft_q58b_events")
      s.sql("""SELECT entity AS user_id, n_events, n_matches
        |FROM match_pattern('graft_q58b_events', 'user_id', 'ts',
        |       'event_id', 'event_type',
        |       'view (click|error)+ purchase', 0)
        |WHERE n_matches > 0 ORDER BY user_id""".stripMargin)
    }),

    // Q58c — TABLE() polymorphic table argument (NEW r14, ROADMAP #10
    // closed): the SAME q58 machine invoked over an INLINE SUBQUERY —
    // no temp view of the subquery needed; the analyzer hands the TVF
    // builder the resolved plan inside the SQL-standard TABLE()
    // wrapper. The subquery here is a genuine reshaping (projection +
    // a no-op-preserving filter), and the result is held to q58's
    // oracle verbatim.
    "q58c_pattern_sql_table" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      t(s, dir, "events").createOrReplaceTempView("graft_q58c_events")
      s.sql("""SELECT entity AS user_id, n_events, n_matches
        |FROM match_pattern(
        |       TABLE(SELECT user_id, ts, event_id, event_type
        |             FROM graft_q58c_events WHERE event_id >= 0),
        |       'user_id', 'ts', 'event_id', 'event_type',
        |       'view (click|error)+ purchase', 0)
        |WHERE n_matches > 0 ORDER BY user_id""".stripMargin)
    }),

    // Q59 — PER-MATCH EMISSION (MATCH_RECOGNIZE's ONE ROW PER MATCH):
    // q57e's bounded funnel (view click+ purchase WITHIN 1 day), but
    // emitting each converting run as its own row with the anchoring
    // view's and completing purchase's epoch-µs — the surface a user
    // joins back to events. Oracle = the q57e DFA walk, selecting the
    // hit steps instead of the final snapshot (match_no = row_number
    // per user over steps).
    "q59_pattern_match_rows" -> ((s, dir) =>
      graft.ops.Patterns.quantifiedMatchesAlt(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          stages = Seq((Set("view"), 1, 1),
            (Set("click"), 1, Int.MaxValue), (Set("purchase"), 1, 1)),
          withinUs = Some(86400L * 1000000L))
        .select(col("entity").as("user_id"), col("match_no"),
          col("anchor_us"), col("end_us"))
        .orderBy("user_id", "match_no")),

    // Q59b — q59's per-match surface through the match_rows TVF
    // (NEW r14): the SQL door for ONE ROW PER MATCH, compact pattern
    // spec + TABLE() composability like match_pattern; held to q59's
    // oracle verbatim.
    "q59b_match_rows_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      t(s, dir, "events").createOrReplaceTempView("graft_q59b_events")
      s.sql("""SELECT entity AS user_id, match_no, anchor_us, end_us
        |FROM match_rows('graft_q59b_events', 'user_id', 'ts',
        |       'event_id', 'event_type', 'view click+ purchase',
        |       86400000000)
        |ORDER BY user_id, match_no""".stripMargin)
    }),

    // Q59c — PER-MATCH MEASURES (r17 — MATCH_RECOGNIZE's MEASURES
    // clause on the q59 surface): each converting run carries its
    // aggregates — events consumed, cents sum over them, and the first
    // click's timestamp (per-stage first-event times; the machine
    // tracks one slot per stage, O(#stages) state, never a buffer of
    // the match's events). Counts/anchors/WITHIN gate are bit-identical
    // to q59 (qmeasuredStep wraps the same machine step). Oracle = the
    // q59 DFA walk extended with the same accumulators.
    "q59c_match_measures" -> ((s, dir) =>
      graft.ops.Patterns.quantifiedMatchMeasuresAlt(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type", valueCol = "value",
          stages = Seq((Set("view"), 1, 1),
            (Set("click"), 1, Int.MaxValue), (Set("purchase"), 1, 1)),
          withinUs = Some(86400L * 1000000L))
        .select(col("entity").as("user_id"), col("match_no"),
          col("anchor_us"), col("end_us"), col("m_events"), col("m_cents"),
          element_at(col("stage_first_us"), 2).as("click1_us"))
        .orderBy("user_id", "match_no")),

    // Q59d — q59c through the match_measures TVF: the MEASURES surface
    // from pure SQL (stage_first_us flattens with element_at in the
    // outer query); held to q59c's oracle verbatim.
    "q59d_match_measures_sql" -> ((s, dir) => {
      graft.functions.TableFunctions.ensureRegistered(s)
      t(s, dir, "events").createOrReplaceTempView("graft_q59d_events")
      s.sql("""SELECT entity AS user_id, match_no, anchor_us, end_us,
        |  m_events, m_cents, element_at(stage_first_us, 2) AS click1_us
        |FROM match_measures('graft_q59d_events', 'user_id', 'ts',
        |       'event_id', 'event_type', 'value',
        |       'view click+ purchase', 86400000000)
        |ORDER BY user_id, match_no""".stripMargin)
    }),

    // Q58 — ALTERNATION stages (MATCH_RECOGNIZE `A (B|C)+ D`):
    // view (click|error)+ purchase — the engagement stage accepts
    // either symbol. Same machine as q57d with set membership in place
    // of symbol equality (adjacent sets must be disjoint); the oracle
    // is the q57d DFA replay with an IN-list on the alternation stage
    // — again a hand derivation of THIS pattern's 3 states, not a port
    // of the fold. On the fixture the alternation genuinely widens the
    // funnel vs q57d (the error path keeps attempts alive).
    "q58_pattern_alternation" -> ((s, dir) =>
      graft.ops.Patterns.quantifiedCountsAlt(t(s, dir, "events"),
          entity = "user_id", ts = "ts", tieBreak = "event_id",
          typeCol = "event_type",
          stages = Seq((Set("view"), 1, 1),
            (Set("click", "error"), 1, Int.MaxValue),
            (Set("purchase"), 1, 1)))
        .filter(col("n_matches") > 0)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_matches"))
        .orderBy("user_id")),

    // Q43 — robust outliers via MAD (median absolute deviation): rows
    // whose |value − median| exceeds 3× the MAD of their event type —
    // the outlier gate that, unlike z-scores, a few extreme points
    // cannot drag. Both medians are EXACT lower-median order statistics
    // picked by rank ((n+1) div 2 over the sorted ints) — the value at
    // a rank is well-defined even under ties, so the pick is engine-
    // portable where any interpolating percentile would float-drift.
    // Two rank windows + two ≤|types|-row broadcast joins, all integer
    // cents.
    "q43_mad_outliers" -> ((s, dir) => {
      val e = t(s, dir, "events")
        .select(col("event_id"), col("event_type"),
          cents(col("value")).as("v_cents"))
      def lowerMedian(in: DataFrame, v: String, out: String): DataFrame = {
        val w = Window.partitionBy("event_type")
          .orderBy(col(v).asc, col("event_id").asc)
        in.withColumn("__rn", row_number().over(w))
          .withColumn("__n",
            count(lit(1)).over(Window.partitionBy("event_type")))
          .filter(col("__rn") === expr("(__n + 1) div 2"))
          .select(col("event_type"), col(v).as(out))
      }
      val med = lowerMedian(e, "v_cents", "med_cents")
      val dev = e.join(broadcast(med), "event_type")
        .withColumn("dev_cents", abs(col("v_cents") - col("med_cents")))
      val mad = lowerMedian(dev, "dev_cents", "mad_cents")
      dev.join(broadcast(mad), "event_type")
        .filter(col("dev_cents") > lit(3) * col("mad_cents"))
        .select("event_id", "event_type", "v_cents", "med_cents",
          "mad_cents", "dev_cents")
        .orderBy("event_type", "event_id")
    }),

    // Q44 — equi-width histogram: SQL-standard width_bucket over integer
    // cents (25 buckets across [0, 50000)); the standard's underflow/
    // overflow buckets 0 and 26 keep domain-edge rows visible instead of
    // silently clipping them. One two-phase agg, exact.
    "q44_histogram" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          width_bucket(cents(col("value")), lit(0), lit(50000), lit(25))
            .as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("event_type", "bucket")
    }),

    // Q45 — contribution / Pareto analysis: supplier revenue shares and
    // the running concentration curve ("what fraction of revenue do the
    // top k suppliers hold"). Every ratio is ONE IEEE division of exact
    // integer cents (t03's safe subset), so the floats are bit-identical
    // cross-engine; ties in revenue break by suppkey. The global-order
    // window runs over the ALREADY-AGGREGATED supplier table (|suppliers|
    // rows, not |lineitem|); at 100 TB the same curve would range-
    // partition the sort and two-pass the total, but a concentration
    // curve is a total order by definition — the single-partition window
    // here is over the small side only.
    "q45_pareto" -> ((s, dir) => {
      val rev = t(s, dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(sumCents(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("rev_cents"))
      val total = rev.agg(sum("rev_cents").as("__total"))
      val w = Window.orderBy(col("rev_cents").desc, col("l_suppkey").asc)
      rev.crossJoin(broadcast(total))
        .withColumn("rk", row_number().over(w))
        .withColumn("__cum", sum("rev_cents")
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("rk"), col("l_suppkey"), col("rev_cents"),
          (col("rev_cents") / col("__total")).as("share"),
          (col("__cum") / col("__total")).as("cum_share"))
        .orderBy("rk")
    }),

    // Q46 — exact WEIGHTED median: per return flag, the price at which
    // half the shipped QUANTITY sits at-or-below — the order statistic
    // that answers "what does the median unit cost", which the row
    // median cannot (a 50-unit line counts 50×). Classic cumulative-
    // weight selection: sort by (v, tie keys), running Σw, the first
    // row with 2·cumw ≥ total is the weighted lower median; since the
    // qualifying set is a SUFFIX of the sort order, "first" collapses
    // to min(v) after the filter — and v is tie-stable even though
    // (l_orderkey, l_linenumber) duplicates exist (equal sort keys ⇒
    // equal v, so any permutation picks the same value). One window
    // shuffle on the group key, all integer.
    "q46_weighted_median" -> ((s, dir) => {
      val e = t(s, dir, "lineitem").select(col("l_returnflag").as("rf"),
        cents(col("l_extendedprice")).as("v"),
        col("l_quantity").cast("long").as("w"),
        col("l_orderkey").as("ok"), col("l_linenumber").as("ln"))
      val wOrd = Window.partitionBy("rf")
        .orderBy(col("v").asc, col("ok").asc, col("ln").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      e.withColumn("cumw", sum("w").over(wOrd))
        .withColumn("total", sum("w").over(Window.partitionBy("rf")))
        .filter(col("cumw") * 2 >= col("total"))
        .groupBy("rf")
        .agg(min("v").as("wmed_cents"), min("total").as("total_weight"))
        .select(col("rf").as("l_returnflag"), col("wmed_cents"),
          col("total_weight"))
        .orderBy("l_returnflag")
    }),

    // Q47 — decile analysis: orders cut into revenue deciles (ntile(10)
    // over the (cents desc, key) total order), each decile reporting
    // count, revenue, and its share of total as ONE integer division —
    // the "top 10% of orders carry X% of revenue" read. ntile's
    // remainder rule (first n mod k tiles get the extra row) is SQL
    // standard and position-determined, so identical cross-engine under
    // the total order. The global-order window runs over base rows here
    // (|orders|); the curve is a total order by definition — at 100 TB
    // the same cut comes from a two-pass rank (per-partition counts →
    // offset broadcast) instead of one window partition.
    "q47_decile_stats" -> ((s, dir) => {
      val w = Window.orderBy(cents(col("o_totalprice")).desc,
        col("o_orderkey").asc)
      val o = t(s, dir, "orders")
        .withColumn("decile", ntile(10).over(w))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_orders"),
          sumCents(col("o_totalprice")).as("rev_cents"))
      val total = o.agg(sum("rev_cents").as("__total"))
      o.crossJoin(broadcast(total))
        .select(col("decile"), col("n_orders"), col("rev_cents"),
          (col("rev_cents") / col("__total")).as("share"))
        .orderBy("decile")
    }),

    // Q48 — referential-integrity audit: orphan counts for every FK
    // edge of the star schema in ONE result — the ingest gate a
    // lakehouse runs before publishing a snapshot. The clean fixture
    // would make every row 0, so the declared query INJECTS violations
    // first (a key-shifted slice of orders, the s05 move) and must find
    // exactly those; each relation is one left-anti join keyed on the
    // FK — broadcast for dim parents, shuffle for fact parents, never
    // quadratic.
    "q48_fk_audit" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      // every 97th order re-keyed out of the customer domain
      val dirty = o.unionAll(o.filter(col("o_orderkey") % 97 === 0)
        .withColumn("o_custkey", col("o_custkey") + lit(1000000L))
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L)))
      def orphans(nm: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame =
        child.join(parent, child(ck) === parent(pk), "left_anti")
          .agg(lit(nm).as("relation"), count(lit(1)).as("n_orphans"))
      orphans("orders->customer", dirty, "o_custkey",
          t(s, dir, "customer"), "c_custkey")
        .unionAll(orphans("lineitem->orders", t(s, dir, "lineitem"),
          "l_orderkey", o, "o_orderkey"))
        .unionAll(orphans("lineitem->part", t(s, dir, "lineitem"),
          "l_partkey", t(s, dir, "part"), "p_partkey"))
        .unionAll(orphans("customer->nation", t(s, dir, "customer"),
          "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
        .orderBy("relation")
    }),

    // Q49 — Markov transition matrix over sessionized clickstreams: for
    // every (from_type, to_type) pair, how often the user's NEXT event
    // (within the same 30-minute-gap session — t06's boundary rule, so
    // a gap of exactly 30 min still chains) is of each type, with the
    // row-normalized transition probability as an exact scaled integer
    // (p_e6 = 1e6·n div from_total — no floats to hash). The "what do
    // users do next" read behind path analysis and next-step
    // prediction. One entity-shuffle lag window over events; the
    // transition table itself is |types|² — tiny at any scale — so the
    // normalizing window runs on the aggregate, never the event stream.
    "q49_markov" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = t(s, dir, "events")
        .withColumn("to_type", lead("event_type", 1).over(w))
        .withColumn("gap_us",
          epochUs(lead("ts", 1).over(w)) - epochUs(col("ts")))
        .filter(col("to_type").isNotNull &&
          col("gap_us") <= lit(1800L * 1000000))
        .groupBy(col("event_type").as("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
      trans
        // e6·n leaves long range once a transition pair exceeds ~9e12
        // rows — widened to decimal(38,0) like q51/q52 (ADVICE r10);
        // IntegralDivide on decimals still emits BIGINT.
        .withColumn("p_e6",
          expr("CAST(1000000 AS DECIMAL(38,0)) * n" +
            " div sum(n) over (partition by from_type)"))
        .select("from_type", "to_type", "n", "p_e6")
        .orderBy("from_type", "to_type")
    }),

    // Q50 — key-sequence GAP AUDIT without a global window: find every
    // missing run in a dense surrogate-key sequence (the "did the
    // loader drop rows" check). The naive plan is lag() over ALL keys
    // — a single-task global sort at any scale. The engine decomposes:
    // within-bucket gaps from a PARTITIONED lag window (bucket = k div
    // B), cross-bucket gaps from the bucket summary (min/max per
    // bucket — |keys|/B rows; pick B so that table stays one-task
    // small, the decomposition is B-agnostic), and an empty bucket
    // falls out correctly because the summary's lead() skips it. The
    // clean fixture is gap-free, so the declared query DELETES
    // k % 101 == 7 and the 5000..5004 slice (the q48 move) and must
    // report exactly those. Oracle = the naive global lag the engine
    // refuses to run.
    "q50_key_gap_audit" -> ((s, dir) => {
      val B = 1024L
      val o = t(s, dir, "orders").select(col("o_orderkey").as("k"))
        .filter(col("k") % 101 =!= 7 && !col("k").between(5000, 5004))
        .withColumn("b", expr(s"k div $B"))
      val w = Window.partitionBy("b").orderBy("k")
      val within = o.withColumn("nxt", lead("k", 1).over(w))
        .filter(col("nxt") > col("k") + 1)
        .select((col("k") + 1).as("gap_from"), (col("nxt") - 1).as("gap_to"))
      val summary = o.groupBy("b").agg(min("k").as("mn"), max("k").as("mx"))
      val ws = Window.orderBy("b")
      val across = summary.withColumn("nxt_mn", lead("mn", 1).over(ws))
        .filter(col("nxt_mn") > col("mx") + 1)
        .select((col("mx") + 1).as("gap_from"),
          (col("nxt_mn") - 1).as("gap_to"))
      within.unionAll(across)
        .withColumn("n_missing", col("gap_to") - col("gap_from") + 1)
        .orderBy("gap_from")
    }),

    // Q51 — EXACT distributed least squares: per event type, the OLS
    // trend slope of value-cents over time from the five classical
    // sufficient statistics (n, Σx, Σy, Σxy, Σx²) — one partial-
    // aggregated groupBy, which is the whole point: regression at
    // 100 TB is just a sum, no solver, no iteration, and merging
    // partials is addition. Exactness discipline: x in whole MINUTES
    // since the corpus min (broadcast 1-row agg) keeps the raw sums in
    // long range; the slope numerator n·Σxy − Σx·Σy crosses 2^63, so
    // the COMBINATION runs in decimal(38,0), and the final scaled
    // ratio truncates toward zero on |num| so Spark's div and DuckDB's
    // floor-// agree for negative slopes. slope_e6 = 10^6 · num/den
    // in cents per minute.
    "q51_trend_slope" -> ((s, dir) => {
      val t0 = t(s, dir, "events").agg(min(col("ts")).as("t0"))
      val sums = t(s, dir, "events").crossJoin(broadcast(t0))
        .withColumn("dx_us", epochUs(col("ts")) - epochUs(col("t0")))
        .select(col("event_type"),
          expr("dx_us div 60000000").as("x"),
          expr("CAST(round(value*100) AS BIGINT)").as("y"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
      sums
        .withColumn("num", expr(
          "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
        .withColumn("den", expr(
          "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
        // den = n·Σx² − (Σx)² = 0 ⇔ all x equal (one event, or all in
        // one minute bucket): slope is undefined — pinned to NULL in
        // BOTH engines (ADVICE r10: Spark's non-ANSI division returned
        // NULL silently here while DuckDB errored on the degenerate
        // input; now the semantics are explicit and identical).
        .withColumn("slope_e6", expr("""CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
            WHEN num >= 0
            THEN CAST(floor(1000000 * num / den) AS BIGINT)
            ELSE -CAST(floor(1000000 * (-num) / den) AS BIGINT) END"""))
        .select("event_type", "n", "slope_e6")
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q52 — association rules (market-basket): for ordered part pairs
    // co-occurring in an order, the classic support / confidence /
    // lift triple as exact scaled integers (conf_e6 = 10^6·n_xy div
    // n_x; lift_e6 = 10^6·n_xy·N div (n_x·n_y); N = basket count, a
    // broadcast 1-row agg). Pair generation reuses the bounded
    // in-basket expansion (collect_set ≤ 8 items per order — real
    // basket mining prunes the same way: frequent-item filters bound
    // the expansion, never all-pairs over the catalog); the pair agg
    // and the two marginal joins are all item-keyed. DIRECTED rules
    // (x→y and y→x both emitted — confidence is asymmetric), support
    // ≥ 3, top-50 by (lift desc, x, y).
    "q52_assoc_rules" -> ((s, dir) => {
      val baskets = t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
        .filter(size(col("ps")).between(2, 8))
      val n = baskets.agg(count(lit(1)).as("n_baskets"))
      val pairs = baskets
        .select(explode(flatten(transform(col("ps"), x =>
          transform(col("ps"), y => struct(x.as("x"), y.as("y")))))).as("p"))
        .select(col("p.x"), col("p.y"))
        .filter(col("x") =!= col("y"))
      val nxy = pairs.groupBy("x", "y").agg(count(lit(1)).as("n_xy"))
      // basket-presence marginals (ps is a set: one count per basket)
      val nx = baskets.select(explode(col("ps")).as("x"))
        .groupBy("x").agg(count(lit(1)).as("n_x"))
      nxy.filter(col("n_xy") >= 3)
        .join(nx, "x")
        .join(nx.select(col("x").as("y"), col("n_x").as("n_y")), "y")
        .crossJoin(broadcast(n))
        .select(col("x"), col("y"), col("n_xy"),
          // same overflow class as lift_e6, just a further-out threshold
          // (1e6·n_xy wraps past ~9.2e12 co-occurrences) — widened per
          // ADVICE r11; div on decimals is IntegralDivide → BIGINT.
          expr("CAST(1000000 AS DECIMAL(38,0)) * n_xy div n_x").as("conf_e6"),
          // the e6·n_xy·N numerator crosses 2^63 at corpus scale while
          // the testdata stays in long range — widened to decimal(38,0)
          // (the q51/q54/q55 discipline) so both engines stay exact
          // instead of Spark wrapping silently (ADVICE r10). div on
          // decimals is Spark's IntegralDivide → BIGINT.
          expr("CAST(1000000 AS DECIMAL(38,0)) * n_xy * n_baskets" +
            " div (CAST(n_x AS DECIMAL(38,0)) * n_y)").as("lift_e6"))
        .orderBy(col("lift_e6").desc, col("x").asc, col("y").asc)
        .limit(50)
    }),

    // Q53 — exact-statistics correlation matrix: pairwise Pearson r
    // over four lineitem measures from ONE pass of integer sufficient
    // statistics (n, Σx, Σxy), summed in DECIMAL(38,0) because the
    // price-cents squares overflow BIGINT already at sf0.1. corr is
    // then pure arithmetic on exact integers: both engines evaluate
    // the identical double expression tree on identical inputs (IEEE
    // ops are correctly rounded, sqrt included), so round4 is
    // hash-stable — q51's determinism discipline extended to the
    // two-variable moments. `+ 0.0` canonicalizes -0.0 for the
    // near-zero correlations. At 100 TB the plan is unchanged: one
    // partial+final aggregate, then a 6-row unpivot of the 1-row
    // statistics — regression/correlation at scale is just sums.
    "q53_corr_matrix" -> ((s, dir) => {
      val m = t(s, dir, "lineitem").select(
        expr("CAST(round(l_quantity) AS BIGINT)").as("qty"),
        expr("CAST(round(l_extendedprice*100) AS BIGINT)").as("price_c"),
        expr("CAST(round(l_discount*100) AS BIGINT)").as("disc_bp"),
        expr("CAST(round(l_tax*100) AS BIGINT)").as("tax_bp"))
      val names = Seq("qty", "price_c", "disc_bp", "tax_bp")
      val prods = for {
        i <- names.indices; j <- i until names.length
      } yield sum(expr(s"CAST(${names(i)} AS DECIMAL(38,0)) * ${names(j)}"))
        .as(s"s_${names(i)}_${names(j)}")
      val aggs = names.map(x => sum(col(x)).as(s"s_$x")) ++ prods
      val sums = m.agg(count(lit(1)).as("n"), aggs: _*)
      def den(x: String) =
        s"CAST(CAST(n AS DECIMAL(38,0)) * s_${x}_${x} - " +
          s"CAST(s_$x AS DECIMAL(38,0)) * s_$x AS DOUBLE)"
      def corrRow(x: String, y: String) =
        sums.select(lit(x).as("x"), lit(y).as("y"), col("n"),
          (round(
            expr(s"CAST(CAST(n AS DECIMAL(38,0)) * s_${x}_${y} - " +
              s"CAST(s_$x AS DECIMAL(38,0)) * s_$y AS DOUBLE)") /
            sqrt(expr(den(x)) * expr(den(y))), 4) + lit(0.0)).as("corr_r4"))
      (for { i <- names.indices; j <- i + 1 until names.length }
        yield corrRow(names(i), names(j)))
        .reduce(_ unionAll _).orderBy("x", "y")
    }),

    // Q54 — Gini concentration of customer spend per market segment:
    // the standard inequality/concentration audit (revenue dependence,
    // dataset skew), exact via the sorted-rank identity
    // G = (2·Σi·x_i − (n+1)·Σx) / (n·Σx) with x ascending — ties in x
    // cannot perturb Σi·x (equal values swap ranks freely), so the
    // rank pick is deterministic without a tie rule, though one is
    // pinned anyway. Zero-spend customers INCLUDED via the left join
    // (dropping them understates inequality — the usual mistake).
    // Scaled to e6 in decimal(38,0) (the e6 numerator crosses 2^63 at
    // sf0.1); numerator ≥ 0 by the ascending sort, so floor == DuckDB's
    // HUGEINT //. One join + one segment window + a ≤|segments|-row agg.
    "q54_gini" -> ((s, dir) => {
      val spend = t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(coalesce(
          sum(expr("CAST(round(o_totalprice*100) AS BIGINT)")), lit(0L))
          .as("cents"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("cents"), col("c_custkey"))
      spend.withColumn("i", row_number().over(w).cast("long"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), sum("cents").as("sx"),
          sum(col("i") * col("cents")).as("six"))
        // sx = 0 (a segment whose customers all have zero spend) makes
        // Gini undefined — nullif pins NULL explicitly in BOTH engines
        // instead of relying on Spark's silent non-ANSI NULL while
        // DuckDB errors (ADVICE r10).
        .withColumn("gini_e6", expr(
          """CAST(floor((CAST(1000000 AS DECIMAL(38,0)) *
            |  (2 * CAST(six AS DECIMAL(38,0)) -
            |   (CAST(n AS DECIMAL(38,0)) + 1) * sx)) /
            |  nullif(CAST(n AS DECIMAL(38,0)) * sx, 0)) AS BIGINT)"""
            .stripMargin))
        .select("c_mktsegment", "n", "gini_e6")
        .orderBy("c_mktsegment")
    }),

    // Q55 — chi-squared independence audit (segment × order priority):
    // the contingency-table statistic behind "is this dimension
    // independent of that one" (A/B checks, stratification audits,
    // drift alarms). Per cell, the contribution (O−E)²/E is computed
    // as the EXACT integer-scaled rational (O·N − R·C)²·10⁶ div
    // (N·R·C) — multiplying through by N clears the rational expected
    // count E = R·C/N, so both engines evaluate integers end-to-end
    // and the operator's chi2_e6 is DEFINED as the sum of the
    // floor-scaled cell terms (deterministic by construction; the e6
    // numerator crosses 2^63, so decimal(38,0)/HUGEINT). One fact
    // join + three broadcast marginal aggregates.
    "q55_chi2" -> ((s, dir) => {
      val o = t(s, dir, "orders").join(t(s, dir, "customer"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"),
          col("o_orderpriority").as("pri"))
      val cells = o.groupBy("seg", "pri").agg(count(lit(1)).as("obs"))
      val rm = o.groupBy("seg").agg(count(lit(1)).as("r"))
      val cm = o.groupBy("pri").agg(count(lit(1)).as("c"))
      val n = o.agg(count(lit(1)).as("nn"))
      cells.join(broadcast(rm), "seg").join(broadcast(cm), "pri")
        .crossJoin(broadcast(n))
        .withColumn("d", expr(
          "CAST(obs AS DECIMAL(38,0)) * nn - CAST(r AS DECIMAL(38,0)) * c"))
        .withColumn("contrib_e6", expr(
          """CAST(floor((CAST(1000000 AS DECIMAL(38,0)) * d * d) /
            |  (CAST(nn AS DECIMAL(38,0)) * r * c)) AS BIGINT)"""
            .stripMargin))
        .select(col("seg"), col("pri"), col("obs"), col("contrib_e6"))
        .orderBy("seg", "pri")
    }),

    // Q56 — top-decile revenue share per segment: the "what fraction
    // of revenue do the top 10% of customers hold" concentration read
    // that pairs with q54's Gini (one number each: inequality shape vs
    // top-heavy mass). Exact: the decile cut is the rank pick
    // rn ≤ (n+9) div 10 over (cents DESC, custkey) — boundary ties
    // resolved by the pinned key order identically in both engines —
    // and the share is an e6 integer division in decimal (the e6
    // numerator leaves long range past sf0.1). One segment window
    // carrying rank/count/total together, then a ≤|segments|-row agg.
    "q56_top_decile_share" -> ((s, dir) => {
      val spend = t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"), col("c_mktsegment"))
        .agg(coalesce(
          sum(expr("CAST(round(o_totalprice*100) AS BIGINT)")), lit(0L))
          .as("cents"))
      val w = Window.partitionBy("c_mktsegment")
        .orderBy(col("cents").desc, col("c_custkey").asc)
      val grp = Window.partitionBy("c_mktsegment")
      spend.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(grp))
        .withColumn("sx", sum("cents").over(grp))
        .filter(col("rn") <= expr("(n + 9) div 10"))
        .groupBy(col("c_mktsegment"), col("n"), col("sx"))
        .agg(count(lit(1)).as("n_top"), sum("cents").as("top_cents"))
        // sx = 0 → share undefined; NULL pinned in both engines
        // (ADVICE r10, same rationale as q54).
        .withColumn("share_e6", expr(
          "CAST(floor((CAST(1000000 AS DECIMAL(38,0)) * top_cents) /" +
            " nullif(CAST(sx AS DECIMAL(38,0)), 0)) AS BIGINT)"))
        .select("c_mktsegment", "n", "n_top", "top_cents", "share_e6")
        .orderBy("c_mktsegment")
    }),

    // Q19 — scalar functions: string/math/conditional.
    "q19_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "customer")
        .select(
          col("c_custkey"),
          upper(substring(col("c_name"), 1, 8)).as("name8"),
          concat(col("c_mktsegment"), lit("-"),
            col("c_nationkey").cast("string")).as("seg_nat"),
          length(col("c_name")).as("name_len"),
          col("c_name").like("%1%").as("has_one"),
          when(col("c_acctbal") < 0, "neg")
            .when(col("c_acctbal") < 5000, "mid")
            .otherwise("high").as("bal_band"),
          round(abs(col("c_acctbal")), 2).as("abs_bal"),
          round(pow(col("c_nationkey").cast("double"), 2), 1).as("nat_sq"))
        .orderBy("c_custkey")
    }),

    // Q19b — date/time functions on orders.
    "q19_date_funcs" -> ((s, dir) => {
      t(s, dir, "orders")
        .select(
          col("o_orderkey"),
          date_trunc("month", col("o_orderdate")).as("order_month"),
          year(col("o_orderdate")).as("order_year"),
          quarter(col("o_orderdate")).as("order_quarter"),
          dayofweek(col("o_orderdate")).as("order_dow"),
          datediff(lit("2002-01-01").cast("date"),
            col("o_orderdate").cast("date")).as("days_to_2002"))
        .orderBy("o_orderkey")
    }),

    // Q20 — JSON extraction + aggregation over events.props.
    "q20_json" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("k",
          get_json_object(col("props"), "$.k").cast("long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"),
          count(col("k")).as("cnt_k"))
        .transform(enumSort(_, "event_type"))
    }),

    // Q20b — the same JSON aggregation over Spark 4 VariantType:
    // parse_json once, typed variant_get extraction (the amortized-parse
    // path for semi-structured columns); same oracle as q20.
    "q20b_variant" -> ((s, dir) => {
      t(s, dir, "events")
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "long"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"),
          count(col("k")).as("cnt_k"))
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q21 — array functions over embeddings: size, element access, and a
    // sequential-fold dot product with itself (norm²) via HOFs — stays in
    // codegen, no UDF.
    "q21_array_funcs" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(
          col("vec_id"),
          size(col("embedding")).as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e0"),
          round(aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")), 4)
            .as("norm_sq"))
        .orderBy("vec_id")
    }),

    // Q22 — struct/map construction and field access round-trip.
    "q22_struct_map" -> ((s, dir) => {
      t(s, dir, "customer")
        .withColumn("info", struct(col("c_nationkey").as("nat"),
          col("c_mktsegment").as("seg")))
        .withColumn("m", map(lit("seg"), col("c_mktsegment")))
        .select(
          col("c_custkey"),
          col("info.nat").as("nat"),
          element_at(col("m"), "seg").as("seg"))
        .orderBy("c_custkey")
    }),

    // Q23 — correlated scalar subquery (Catalyst decorrelates to a join):
    // customers above their nation's average balance. SQL entry point.
    "q23_correlated_subquery" -> ((s, dir) => {
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer")
      s.sql("""
        SELECT c_custkey, round(c_acctbal, 2) AS bal
        FROM customer c
        WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c_custkey""")
    }),

    // Q23b — the same correlated-subquery semantics hand-decorrelated in
    // DataFrame form (join against the pre-aggregated per-nation average);
    // same oracle as q23.
    "q23b_decorrelated_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val avgBal = c.groupBy("c_nationkey")
        .agg(avg(col("c_acctbal")).as("nation_avg"))
        .withColumnRenamed("c_nationkey", "nk")
      c.join(broadcast(avgBal), col("c_nationkey") === col("nk"))
        .filter(col("c_acctbal") > col("nation_avg"))
        .select(col("c_custkey"), round(col("c_acctbal"), 2).as("bal"))
        .orderBy("c_custkey")
    }),

    // Q24 — post-aggregation filter (HAVING).
    "q24_having" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(sumCents(col("o_totalprice")).as("revenue_cents"))
        .filter(col("revenue_cents") > lit(100000L) * 100L)
        .orderBy("n_name")
    }),

    // Q25 — pivot: revenue by nation × order status (explicit value list
    // so the output schema is static).
    "q25_pivot" -> ((s, dir) => {
      t(s, dir, "orders")
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sumCents(col("o_totalprice")))
        .withColumnRenamed("F", "st_f")
        .withColumnRenamed("O", "st_o")
        .withColumnRenamed("P", "st_p")
        .orderBy("n_name")
    }),

    // Q26 — generator/explode: distinct character 3-gram shingles per doc
    // (FIXTURES.md shingle definition; feeds L02).
    "q26_explode_shingles" -> ((s, dir) => {
      graft.ops.Text.shingles(t(s, dir, "documents"), 3)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"))
        .orderBy("doc_id")
    }),

    // Q27 — deterministic-seed sample; engine-specific RNG, so rows-only
    // check (no oracle). Count per flag keeps the result small and stable
    // for a given Spark version.
    "q27_sample" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .sample(withReplacement = false, fraction = 0.1, seed = 42)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag")
    }),

    // Q27b — stratified (per-stratum fraction) sampling: each event type
    // kept at its own rate, seeded. Like Q27, excluded from hash-match
    // (engine-specific RNG); ToleranceSpec gates the per-stratum rates,
    // the fraction-1.0 stratum's exactness, and seed reproducibility.
    "q27b_stratified_sample" -> ((s, dir) => {
      t(s, dir, "events")
        .stat.sampleBy("event_type",
          Map("click" -> 0.2, "view" -> 0.1, "purchase" -> 0.05,
            "error" -> 0.5, "signup" -> 1.0), seed = 42L)
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"))
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q15b — ordered string aggregation (listagg WITHIN GROUP): the
    // orderless form is nondeterministic by contract, so the declared
    // query pins an explicit element order — the only hash-stable way to
    // use it on either engine.
    "q15b_listagg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(expr("listagg(DISTINCT l_linestatus, ',') " +
          "WITHIN GROUP (ORDER BY l_linestatus)").as("statuses"))
        .orderBy("l_returnflag")
    }),

    // Q25b — unpivot/melt (the inverse of Q25's pivot): a wide per-flag
    // aggregate row becomes (flag, measure, value) rows. Measures are
    // integer-cents/counts so the single shared value type is LONG —
    // exact on both engines.
    "q25b_unpivot" -> ((s, dir) => {
      val wide = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          sum(graft.Det.cents(col("l_extendedprice"))).as("sum_price_cents"),
          count(lit(1)).as("cnt"))
      wide.unpivot(
          Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price_cents"), col("cnt")),
          "measure", "value")
        .orderBy("l_returnflag", "measure")
    }),

    // Q28 — exact interpolated percentiles (p50/p90/p99) of event value
    // cents per type. Both engines use linear interpolation at rank
    // (n-1)·p; the interpolated values are exact multiples of 0.01 cents
    // (integer inputs × {0.5,0.9,0.99} fractions), so round4 absorbs the
    // formula-shape ulp differences with 5e-5 of safety margin — the
    // rounding can never sit on a boundary.
    "q28_percentiles" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          round(percentile(graft.Det.cents(col("value")), lit(0.5)), 4)
            .as("p50_cents"),
          round(percentile(graft.Det.cents(col("value")), lit(0.9)), 4)
            .as("p90_cents"),
          round(percentile(graft.Det.cents(col("value")), lit(0.99)), 4)
            .as("p99_cents"))
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q28b — approx_percentile (the 100 TB path: bounded-memory sketch vs
    // exact's full sort). Engine-specific sketch -> rows-only check here;
    // ToleranceSpec gates it against the exact percentiles. Output is
    // scalar columns (not array<double>) so rows-only serialization stays
    // trivially sortable downstream.
    "q28b_approx_percentiles" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(approx_percentile(graft.Det.cents(col("value")),
            array(lit(0.5), lit(0.9), lit(0.99)), lit(10000))
          .as("ac"))
        .select(col("event_type"),
          element_at(col("ac"), 1).as("p50_cents"),
          element_at(col("ac"), 2).as("p90_cents"),
          element_at(col("ac"), 3).as("p99_cents"))
        .transform(enumSort(_, "event_type")) // r20: bounded key domain
    }),

    // Q29 — heavy hitters: tokens occurring >= 100 times across the
    // document corpus. Exact two-phase aggregation (map-side partials);
    // the threshold filter is a post-agg HAVING.
    "q29_heavy_hitters" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 100)
        .orderBy("token")
    }),

    // Q29b — the same heavy hitters through the approx_top_k sketch
    // (DataSketches frequent-items, Spark 4.1). Capacity 10000 exceeds
    // the token domain, so the sketch never evicts and its counts are
    // exact -> the SAME hash oracle as Q29 gates the sketch plumbing.
    // The under-capacity (evicting) regime is tolerance-gated in
    // ToleranceSpec; sketch output is exploded to scalar columns (the
    // q28b lesson: array columns break the driver's rows-check).
    "q29b_approx_top_k" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("token"))
        .agg(expr("approx_top_k(token, 40, 10000)").as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.item").as("token"), col("e.count").as("n"))
        .filter(col("n") >= 100)
        .orderBy("token")
    })
  )

  /** Q53's generated oracle: the same 6-pair unpivot over exact integer
    * sufficient statistics (DuckDB's sum(BIGINT) is HUGEINT, so the
    * moment products stay exact without explicit widening casts beyond
    * the per-row one).
    */
  private val corrOracleSql: String = {
    val names = Seq("qty", "price_c", "disc_bp", "tax_bp")
    val prods = (for {
      i <- names.indices; j <- i until names.length
    } yield s"sum(CAST(${names(i)} AS HUGEINT) * ${names(j)}) " +
        s"AS s_${names(i)}_${names(j)}").mkString(",\n    ")
    def pair(x: String, y: String) =
      s"""SELECT '$x' AS x, '$y' AS y, n,
         |  round(CAST(n*s_${x}_${y} - s_${x}*s_${y} AS DOUBLE)
         |    / sqrt(CAST(n*s_${x}_${x} - s_${x}*s_${x} AS DOUBLE)
         |         * CAST(n*s_${y}_${y} - s_${y}*s_${y} AS DOUBLE)), 4) + 0.0
         |    AS corr_r4
         |FROM s""".stripMargin
    val pairs = (for { i <- names.indices; j <- i + 1 until names.length }
      yield pair(names(i), names(j))).mkString("\nUNION ALL\n")
    s"""WITH m AS (SELECT CAST(round(l_quantity) AS BIGINT) AS qty,
       |    CAST(round(l_extendedprice*100) AS BIGINT) AS price_c,
       |    CAST(round(l_discount*100) AS BIGINT) AS disc_bp,
       |    CAST(round(l_tax*100) AS BIGINT) AS tax_bp
       |  FROM lineitem),
       |s AS (SELECT count(*) AS n,
       |    sum(qty) AS s_qty, sum(price_c) AS s_price_c,
       |    sum(disc_bp) AS s_disc_bp, sum(tax_bp) AS s_tax_bp,
       |    $prods
       |  FROM m)
       |$pairs
       |ORDER BY x, y""".stripMargin
  }

  /** The declared oracle twins; [[oracles]] adds the shared-SQL aliases
    * on top (q57b is defined to reproduce q42).
    */
  // Shared by q58 (Scala API) and q58b (the match_pattern TVF): the
  // hand-derived 3-state DFA replay of view (click|error)+ purchase.
  private val q58OracleSql: String =
    """WITH RECURSIVE e AS (SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY ts, event_id) AS i
      |  FROM events),
      |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
      |walk(user_id, i, q, cnt) AS (
      |  SELECT user_id, 0, 0, 0 FROM n
      |  UNION ALL
      |  SELECT w.user_id, w.i + 1,
      |    CASE WHEN e.event_type = 'view' THEN 1
      |         WHEN w.q >= 1 AND e.event_type IN ('click', 'error')
      |           THEN 2
      |         ELSE 0 END,
      |    w.cnt + CASE WHEN w.q = 2 AND e.event_type = 'purchase'
      |                 THEN 1 ELSE 0 END
      |  FROM walk w
      |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1)
      |SELECT w.user_id, CAST(n.n AS BIGINT) AS n_events,
      |  CAST(w.cnt AS BIGINT) AS n_matches
      |FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.n
      |WHERE w.cnt > 0 ORDER BY w.user_id""".stripMargin

  private lazy val oracles0: Map[String, String] = Map(
    "q53_corr_matrix" -> corrOracleSql,

    "q54_gini" ->
      """WITH sp AS (SELECT c.c_custkey, c.c_mktsegment,
        |    coalesce(sum(CAST(round(o.o_totalprice*100) AS BIGINT)), 0)
        |      AS cents
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, cents,
        |    CAST(row_number() OVER (PARTITION BY c_mktsegment
        |                            ORDER BY cents, c_custkey) AS BIGINT)
        |      AS i
        |  FROM sp),
        |a AS (SELECT c_mktsegment, count(*) AS n, sum(cents) AS sx,
        |      sum(i * cents) AS six FROM r GROUP BY 1)
        |SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
        |  CAST((1000000 * (2*six - (n+1)*sx)) // nullif(n * sx, 0)
        |    AS BIGINT) AS gini_e6
        |FROM a ORDER BY c_mktsegment""".stripMargin,

    "q56_top_decile_share" ->
      """WITH sp AS (SELECT c.c_custkey, c.c_mktsegment,
        |    coalesce(sum(CAST(round(o.o_totalprice*100) AS BIGINT)), 0)
        |      AS cents
        |  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY 1, 2),
        |r AS (SELECT c_mktsegment, cents,
        |    row_number() OVER (PARTITION BY c_mktsegment
        |                       ORDER BY cents DESC, c_custkey) AS rn,
        |    count(*) OVER (PARTITION BY c_mktsegment) AS n,
        |    sum(cents) OVER (PARTITION BY c_mktsegment) AS sx
        |  FROM sp)
        |SELECT c_mktsegment, CAST(n AS BIGINT) AS n,
        |  CAST(count(*) AS BIGINT) AS n_top,
        |  CAST(sum(cents) AS BIGINT) AS top_cents,
        |  CAST((1000000 * sum(cents)) // nullif(sx, 0) AS BIGINT)
        |    AS share_e6
        |FROM r WHERE rn <= (n + 9) // 10
        |GROUP BY c_mktsegment, n, sx ORDER BY c_mktsegment""".stripMargin,

    "q55_chi2" ->
      """WITH o AS (SELECT c.c_mktsegment AS seg,
        |    ord.o_orderpriority AS pri
        |  FROM orders ord JOIN customer c
        |    ON ord.o_custkey = c.c_custkey),
        |cells AS (SELECT seg, pri, count(*) AS obs FROM o GROUP BY 1, 2),
        |rm AS (SELECT seg, count(*) AS r FROM o GROUP BY 1),
        |cm AS (SELECT pri, count(*) AS c FROM o GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM o),
        |x AS (SELECT cells.seg, cells.pri, cells.obs,
        |    CAST(cells.obs AS HUGEINT) * nn
        |      - CAST(rm.r AS HUGEINT) * cm.c AS d,
        |    CAST(nn AS HUGEINT) * rm.r * cm.c AS den
        |  FROM cells JOIN rm USING (seg) JOIN cm USING (pri) CROSS JOIN n)
        |SELECT seg, pri, CAST(obs AS BIGINT) AS obs,
        |  CAST((CAST(1000000 AS HUGEINT) * d * d) // den AS BIGINT)
        |    AS contrib_e6
        |FROM x ORDER BY seg, pri""".stripMargin,

    "q01_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-07-01'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "q02_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        |  CAST(round(sum(l_quantity*100)) AS BIGINT) AS sum_qty_cents,
        |  CAST(round(sum(l_extendedprice*100)) AS BIGINT) AS sum_price_cents,
        |  CAST(round(sum(l_extendedprice*(1-l_discount)*100)) AS BIGINT)
        |    AS sum_disc_price_cents,
        |  CAST((200 * sum(CAST(round(l_discount*100) AS BIGINT)) + count(*))
        |       // (2 * count(*)) AS BIGINT) / 10000.0 AS avg_disc
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q03_join_agg" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(round(sum(o_totalprice*100)) AS BIGINT) AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q04_multi_join" ->
      """SELECT n_name,
        |  CAST(round(sum(l_extendedprice*(1-l_discount)*100)) AS BIGINT)
        |    AS revenue_cents
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q05_broadcast_join" ->
      """SELECT p_brand, count(*) AS n_items,
        |  CAST(round(sum(l_extendedprice*100)) AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q06_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q07_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q08_anti_join" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE NOT EXISTS (SELECT 1 FROM lineitem
        |                  WHERE l_partkey = p_partkey
        |                    AND l_shipdate >= TIMESTAMP '2001-01-01')
        |ORDER BY p_partkey""".stripMargin,

    "q08b_not_in" ->
      """SELECT p_partkey, p_brand FROM part
        |WHERE p_partkey NOT IN
        |  (SELECT l_partkey FROM lineitem
        |   WHERE l_shipdate >= TIMESTAMP '2001-01-01')
        |ORDER BY p_partkey""".stripMargin,

    "q09_range_join" ->
      """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id,
        |  date_diff('microsecond', a.ts, b.ts) AS gap_us
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
        |ORDER BY a.user_id, a_id, b_id""".stripMargin,

    "q11_window_rank" ->
      """SELECT o_custkey, rn, o_orderkey, o_orderdate FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_orderdate DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q32_lateral_topn" ->
      """SELECT o.o_orderkey, l.l_linenumber, l.qty_cents
        |FROM (SELECT o_orderkey FROM orders
        |      ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) o,
        |LATERAL (SELECT l_linenumber,
        |           CAST(round(l_quantity * 100) AS BIGINT) AS qty_cents
        |         FROM lineitem
        |         WHERE l_orderkey = o.o_orderkey
        |         ORDER BY l_quantity DESC, l_linenumber LIMIT 2) l
        |ORDER BY o.o_orderkey, l.l_linenumber""".stripMargin,

    "q15c_conditional_agg" ->
      """SELECT user_id, count(*) AS n_events,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  coalesce(CAST(sum(CAST(round(value*100) AS BIGINT))
        |    FILTER (WHERE event_type = 'purchase') AS BIGINT), 0)
        |    AS purchase_cents,
        |  CAST(max(ts) FILTER (WHERE event_type = 'error') AS TIMESTAMP)
        |    AS last_error_ts
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q33_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |           WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |      JOIN v ON v.user_id = e.user_id AND e.ts >= v.v_ts
        |      WHERE e.event_type = 'click' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |      JOIN c ON c.user_id = e.user_id AND e.ts >= c.c_ts
        |      WHERE e.event_type = 'purchase' GROUP BY 1)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, count(*) AS n_users FROM v
        |  UNION ALL SELECT '2_click', count(*) FROM c
        |  UNION ALL SELECT '3_purchase', count(*) FROM p)
        |ORDER BY stage""".stripMargin,

    "q34_retention" ->
      """WITH w AS (SELECT user_id,
        |    CAST(floor((CAST(ts AS DATE) - DATE '2024-01-01') / 7.0)
        |      AS BIGINT) AS wk
        |  FROM events),
        |coh AS (SELECT user_id, min(wk) AS cohort_wk FROM w GROUP BY 1)
        |SELECT coh.cohort_wk, w.wk, count(DISTINCT w.user_id) AS n_users
        |FROM w JOIN coh ON w.user_id = coh.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q35_salted_skew_join" ->
      """WITH ev AS (SELECT
        |    CASE WHEN user_id % 2 = 0 THEN 0 ELSE user_id END AS k,
        |    CAST(round(value*100) AS BIGINT) AS v_cents
        |  FROM events),
        |dim AS (SELECT DISTINCT k, k % 7 AS grp FROM ev)
        |SELECT grp, count(*) AS n, CAST(sum(v_cents) AS BIGINT) AS sum_cents
        |FROM ev JOIN dim USING (k)
        |GROUP BY grp ORDER BY grp""".stripMargin,

    "q36_hash_sample" ->
      """SELECT event_type, event_id FROM (
        |  SELECT event_type, event_id,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events)
        |WHERE rn <= 5 ORDER BY event_type, event_id""".stripMargin,

    "q37_ffill_ignore_nulls" ->
      """WITH m AS (SELECT user_id, event_id, ts,
        |    CASE WHEN event_id % 3 = 0 THEN NULL
        |         ELSE CAST(round(value*100) AS BIGINT) END AS sparse_cents
        |  FROM events)
        |SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  coalesce(sparse_cents, -1) AS sparse_cents,
        |  coalesce(last_value(sparse_cents IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING), -1) AS filled_cents
        |FROM m ORDER BY user_id, ts, event_id""".stripMargin,

    "q41_rank_dist" ->
      """SELECT event_type, event_id,
        |  dense_rank() OVER w AS drk,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY event_type
        |             ORDER BY CAST(round(value*100) AS BIGINT) DESC,
        |                      event_id)
        |ORDER BY event_type, event_id""".stripMargin,

    "q40_mode" ->
      """SELECT event_type, user_id, n FROM (
        |  SELECT event_type, user_id, count(*) AS n,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY count(*) DESC, user_id ASC) AS rk
        |  FROM events GROUP BY 1, 2)
        |WHERE rk = 1 ORDER BY event_type""".stripMargin,

    "q42_seq_pattern" ->
      """WITH s AS (
        |  SELECT user_id,
        |    string_agg(CASE event_type WHEN 'view' THEN 'v'
        |                 WHEN 'click' THEN 'c' WHEN 'purchase' THEN 'p'
        |                 ELSE 'x' END, '' ORDER BY ts, event_id) AS seq
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(length(seq) AS BIGINT) AS n_events,
        |  CAST((length(seq) - length(replace(seq, 'vcp', ''))) // 3
        |    AS BIGINT) AS n_funnel_runs
        |FROM s
        |WHERE (length(seq) - length(replace(seq, 'vcp', ''))) // 3 > 0
        |ORDER BY user_id""".stripMargin,

    // q57: one-row-at-a-time recursive replay of the subsequence
    // machine — state (user, position, stage, count) advances one event
    // per recursion step; stage wraps on the 4th hit. Total recursive
    // rows = |events|, depth = max events per user.
    "q57_pattern_funnel" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |pat(stage, sym) AS (VALUES (0, 'view'), (1, 'click'),
        |                          (2, 'view'), (3, 'purchase')),
        |walk(user_id, i, stage, cnt) AS (
        |  SELECT user_id, 0, 0, 0 FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN e.event_type = p.sym
        |         THEN CASE WHEN w.stage = 3 THEN 0 ELSE w.stage + 1 END
        |         ELSE w.stage END,
        |    w.cnt + CASE WHEN e.event_type = p.sym AND w.stage = 3
        |                 THEN 1 ELSE 0 END
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1
        |  JOIN pat p ON p.stage = w.stage)
        |SELECT w.user_id, CAST(n.n AS BIGINT) AS n_events,
        |  CAST(w.cnt AS BIGINT) AS n_matches
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.n
        |WHERE w.cnt > 0 ORDER BY w.user_id""".stripMargin,

    // q57c: the q57 walk plus one anchor column — stamped when stage
    // 0 consumes a view, read by the count gate at the stage-3 hit
    // (604800000000 = 7 days in micros).
    "q57c_pattern_within" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |pat(stage, sym) AS (VALUES (0, 'view'), (1, 'click'),
        |                          (2, 'view'), (3, 'purchase')),
        |walk(user_id, i, stage, cnt, anchor) AS (
        |  SELECT user_id, 0, 0, 0, CAST(0 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN e.event_type = p.sym
        |         THEN CASE WHEN w.stage = 3 THEN 0 ELSE w.stage + 1 END
        |         ELSE w.stage END,
        |    w.cnt + CASE WHEN e.event_type = p.sym AND w.stage = 3
        |                  AND e.ts_us - w.anchor <= 604800000000
        |                 THEN 1 ELSE 0 END,
        |    CASE WHEN w.stage = 0 AND e.event_type = p.sym
        |         THEN e.ts_us ELSE w.anchor END
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1
        |  JOIN pat p ON p.stage = w.stage)
        |SELECT w.user_id, CAST(n.n AS BIGINT) AS n_events,
        |  CAST(w.cnt AS BIGINT) AS n_matches
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.n
        |WHERE w.cnt > 0 ORDER BY w.user_id""".stripMargin,

    // q57f: recursive replay of the per-stage-anchor re-anchoring
    // machine — state (a1, a2, a3) = latest LIVE anchor of an attempt
    // at stages 1..3 (0 = none), each step prunes anchors past the
    // 7-day bound, counts a hit when stage 3 is live and a purchase
    // lands, else advances descending (view: a3 = max(a3, a2); click:
    // a2 = max(a2, a1)) and re-anchors a1 on every view.
    "q57f_pattern_reanchor" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |walk(user_id, i, a1, a2, a3, cnt) AS (
        |  SELECT user_id, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), 0 FROM n
        |  UNION ALL
        |  SELECT user_id, i,
        |    CASE WHEN p3 > 0 AND sym = 'purchase' THEN 0
        |         WHEN sym = 'view' THEN ts_us
        |         WHEN sym = 'click' THEN 0 ELSE p1 END,
        |    CASE WHEN p3 > 0 AND sym = 'purchase' THEN 0
        |         ELSE greatest(CASE WHEN sym = 'view' THEN 0 ELSE p2 END,
        |                       CASE WHEN sym = 'click' THEN p1 ELSE 0 END)
        |         END,
        |    CASE WHEN p3 > 0 AND sym = 'purchase' THEN 0
        |         WHEN sym = 'view' THEN greatest(p3, p2) ELSE p3 END,
        |    cnt + CASE WHEN p3 > 0 AND sym = 'purchase' THEN 1 ELSE 0 END
        |  FROM (SELECT w.user_id, w.i + 1 AS i, e.event_type AS sym,
        |      e.ts_us, w.cnt,
        |      CASE WHEN w.a1 > 0 AND e.ts_us - w.a1 <= 604800000000
        |           THEN w.a1 ELSE 0 END AS p1,
        |      CASE WHEN w.a2 > 0 AND e.ts_us - w.a2 <= 604800000000
        |           THEN w.a2 ELSE 0 END AS p2,
        |      CASE WHEN w.a3 > 0 AND e.ts_us - w.a3 <= 604800000000
        |           THEN w.a3 ELSE 0 END AS p3
        |    FROM walk w JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1))
        |SELECT w.user_id, CAST(n.n AS BIGINT) AS n_events,
        |  CAST(w.cnt AS BIGINT) AS n_matches
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.n
        |WHERE w.cnt > 0 ORDER BY w.user_id""".stripMargin,

    // q57d: replay of the 3-state DFA hand-derived from the quantified
    // machine for view click+ purchase (greedy clicks, lazy final,
    // naive restart): q=0 start, q=1 view-seen, q=2 in-clicks; a view
    // always (re)anchors at q=1, clicks extend q>=1 to q=2, purchase at
    // q=2 counts and resets, anything else resets.
    "q57d_pattern_quantified" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |walk(user_id, i, q, cnt) AS (
        |  SELECT user_id, 0, 0, 0 FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN e.event_type = 'view' THEN 1
        |         WHEN w.q >= 1 AND e.event_type = 'click' THEN 2
        |         ELSE 0 END,
        |    w.cnt + CASE WHEN w.q = 2 AND e.event_type = 'purchase'
        |                 THEN 1 ELSE 0 END
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1)
        |SELECT w.user_id, CAST(n.n AS BIGINT) AS n_events,
        |  CAST(w.cnt AS BIGINT) AS n_matches
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.n
        |WHERE w.cnt > 0 ORDER BY w.user_id""".stripMargin,

    // q59: the q57e DFA walk, emitting the HIT steps as rows — anchor
    // at the hit is w.anchor (a purchase never re-stamps it), end is
    // the hit event's ts; match_no numbers a user's hits in step order.
    "q59_pattern_match_rows" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |walk(user_id, i, q, cnt, anchor) AS (
        |  SELECT user_id, 0, 0, 0, CAST(0 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN e.event_type = 'view' THEN 1
        |         WHEN w.q >= 1 AND e.event_type = 'click' THEN 2
        |         ELSE 0 END,
        |    w.cnt + CASE WHEN w.q = 2 AND e.event_type = 'purchase'
        |                  AND e.ts_us - w.anchor <= 86400000000
        |                 THEN 1 ELSE 0 END,
        |    CASE WHEN e.event_type = 'view' THEN e.ts_us
        |         ELSE w.anchor END
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1),
        |hits AS (SELECT w.user_id, w.i + 1 AS step,
        |    w.anchor AS anchor_us, e.ts_us AS end_us
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1
        |  WHERE w.q = 2 AND e.event_type = 'purchase'
        |    AND e.ts_us - w.anchor <= 86400000000)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY step)
        |    AS match_no,
        |  anchor_us, end_us
        |FROM hits ORDER BY user_id, match_no""".stripMargin,

    // q59c: the q59 DFA walk carrying the MEASURES accumulators (mev,
    // mcents, first-click ts) through the same transitions — view
    // reseeds, clicks extend, purchase completes (in-bound) or resets,
    // any reset clears; the hit row adds the completing purchase.
    "q59c_match_measures" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    CAST(round(value*100) AS BIGINT) AS cents,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |walk(user_id, i, q, cnt, anchor, c1, mev, mcents) AS (
        |  SELECT user_id, 0, 0, 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |    CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN e.event_type = 'view' THEN 1
        |         WHEN w.q >= 1 AND e.event_type = 'click' THEN 2
        |         ELSE 0 END,
        |    w.cnt + CASE WHEN w.q = 2 AND e.event_type = 'purchase'
        |                  AND e.ts_us - w.anchor <= 86400000000
        |                 THEN 1 ELSE 0 END,
        |    CASE WHEN e.event_type = 'view' THEN e.ts_us
        |         ELSE w.anchor END,
        |    CASE WHEN e.event_type = 'view' THEN 0
        |         WHEN w.q >= 1 AND e.event_type = 'click' THEN
        |           CASE WHEN w.q = 2 THEN w.c1 ELSE e.ts_us END
        |         ELSE 0 END,
        |    CASE WHEN e.event_type = 'view' THEN 1
        |         WHEN w.q >= 1 AND e.event_type = 'click' THEN w.mev + 1
        |         ELSE 0 END,
        |    CASE WHEN e.event_type = 'view' THEN e.cents
        |         WHEN w.q >= 1 AND e.event_type = 'click'
        |           THEN w.mcents + e.cents
        |         ELSE 0 END
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1),
        |hits AS (SELECT w.user_id, w.i + 1 AS step,
        |    w.anchor AS anchor_us, e.ts_us AS end_us,
        |    w.mev + 1 AS m_events, w.mcents + e.cents AS m_cents,
        |    w.c1 AS click1_us
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1
        |  WHERE w.q = 2 AND e.event_type = 'purchase'
        |    AND e.ts_us - w.anchor <= 86400000000)
        |SELECT user_id,
        |  row_number() OVER (PARTITION BY user_id ORDER BY step)
        |    AS match_no,
        |  anchor_us, end_us, CAST(m_events AS BIGINT) AS m_events,
        |  CAST(m_cents AS BIGINT) AS m_cents, click1_us
        |FROM hits ORDER BY user_id, match_no""".stripMargin,

    // q58b is q58 through the SQL TVF — same machine, same oracle.
    "q58b_pattern_sql" -> q58OracleSql,

    // q58c is q58 through the TVF over a TABLE() subquery — same
    // machine, same oracle.
    "q58c_pattern_sql_table" -> q58OracleSql,

    // q59b is q59 through the match_rows TVF — same machine, same
    // oracle (assigned below, after the map literal, to reference the
    // q59 entry).

    // q60: the same explode + rank pick; (n+1)//2 and (n+1) div 2 agree
    // on positive counts.
    "q60_rolling_median" ->
      """WITH e AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(round(value*100) AS BIGINT) AS v, event_id
        |  FROM events),
        |mx AS (SELECT max(day) AS max_day FROM e),
        |c AS (SELECT event_type, v, event_id, CAST(w AS TIMESTAMP) AS wday
        |  FROM (SELECT event_type, v, event_id,
        |      unnest(generate_series(day, day + INTERVAL 6 DAY,
        |        INTERVAL 1 DAY)) AS w
        |    FROM e) CROSS JOIN mx
        |  WHERE CAST(w AS TIMESTAMP) <= max_day),
        |r AS (SELECT event_type, wday, v,
        |    row_number() OVER (PARTITION BY event_type, wday
        |      ORDER BY v, event_id) AS r,
        |    count(*) OVER (PARTITION BY event_type, wday) AS n
        |  FROM c)
        |SELECT event_type, wday, CAST(n AS BIGINT) AS n,
        |  v AS median_cents
        |FROM r WHERE r = (n + 1) // 2
        |ORDER BY event_type, wday""".stripMargin,

    // q58: the q57d DFA with the alternation stage as an IN-list —
    // hand-derived for view (click|error)+ purchase.
    "q58_pattern_alternation" -> q58OracleSql,

    // q57e: the q57d DFA replay plus the anchor column — a view always
    // (re)anchors, so it always stamps; the count gate reads it at the
    // purchase hit (86400000000 = 1 day in micros).
    "q57e_pattern_quant_within" ->
      """WITH RECURSIVE e AS (SELECT user_id, event_type,
        |    epoch_us(ts) AS ts_us,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts, event_id) AS i
        |  FROM events),
        |n AS (SELECT user_id, max(i) AS n FROM e GROUP BY 1),
        |walk(user_id, i, q, cnt, anchor) AS (
        |  SELECT user_id, 0, 0, 0, CAST(0 AS BIGINT) FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN e.event_type = 'view' THEN 1
        |         WHEN w.q >= 1 AND e.event_type = 'click' THEN 2
        |         ELSE 0 END,
        |    w.cnt + CASE WHEN w.q = 2 AND e.event_type = 'purchase'
        |                  AND e.ts_us - w.anchor <= 86400000000
        |                 THEN 1 ELSE 0 END,
        |    CASE WHEN e.event_type = 'view' THEN e.ts_us
        |         ELSE w.anchor END
        |  FROM walk w
        |  JOIN e ON e.user_id = w.user_id AND e.i = w.i + 1)
        |SELECT w.user_id, CAST(n.n AS BIGINT) AS n_events,
        |  CAST(w.cnt AS BIGINT) AS n_matches
        |FROM walk w JOIN n ON n.user_id = w.user_id AND w.i = n.n
        |WHERE w.cnt > 0 ORDER BY w.user_id""".stripMargin,

    // q63: the session CTE + the same three-step earliest-qualifying
    // conditional aggregation (NULL comparisons fall through to 0
    // identically in both engines).
    "q63_session_funnel" ->
      """WITH x AS (SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                                 ORDER BY ts, event_id)
        |              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |se AS (SELECT user_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x),
        |v AS (SELECT user_id, sid,
        |    min(CASE WHEN event_type = 'view' THEN ts_us END) AS v_us
        |  FROM se GROUP BY 1, 2),
        |c AS (SELECT se.user_id, se.sid,
        |    min(CASE WHEN event_type = 'click' AND ts_us > v_us
        |        THEN ts_us END) AS c_us
        |  FROM se JOIN v ON v.user_id = se.user_id AND v.sid = se.sid
        |  GROUP BY 1, 2),
        |conv AS (SELECT se.user_id, se.sid,
        |    max(CASE WHEN event_type = 'purchase' AND ts_us > c_us
        |        THEN 1 ELSE 0 END) AS converted
        |  FROM se JOIN c ON c.user_id = se.user_id AND c.sid = se.sid
        |  GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_sessions,
        |  CAST(sum(converted) AS BIGINT) AS n_converting
        |FROM conv GROUP BY 1 ORDER BY 1""".stripMargin,

    // q62: the same islands trick — day minus row_number is constant
    // exactly along a consecutive run.
    "q62_longest_streak" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day FROM events),
        |r AS (SELECT user_id, day,
        |    row_number() OVER (PARTITION BY user_id ORDER BY day) AS rn
        |  FROM d),
        |i AS (SELECT user_id,
        |    day - CAST(rn AS INT) * INTERVAL 1 DAY AS island FROM r),
        |g AS (SELECT user_id, island, count(*) AS len
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    // q61: the q60 explode + rank replay, picking three ranks via
    // conditional max (same pinned rank conventions).
    "q61_rolling_iqr" ->
      """WITH e AS (SELECT event_type,
        |    date_trunc('day', CAST(ts AS TIMESTAMP)) AS day,
        |    CAST(round(value*100) AS BIGINT) AS v, event_id
        |  FROM events),
        |mx AS (SELECT max(day) AS max_day FROM e),
        |c AS (SELECT event_type, v, event_id, CAST(w AS TIMESTAMP) AS wday
        |  FROM (SELECT event_type, v, event_id,
        |      unnest(generate_series(day, day + INTERVAL 6 DAY,
        |        INTERVAL 1 DAY)) AS w
        |    FROM e) CROSS JOIN mx
        |  WHERE CAST(w AS TIMESTAMP) <= max_day),
        |r AS (SELECT event_type, wday, v,
        |    row_number() OVER (PARTITION BY event_type, wday
        |      ORDER BY v, event_id) AS r,
        |    count(*) OVER (PARTITION BY event_type, wday) AS n
        |  FROM c),
        |p AS (SELECT event_type, wday, CAST(max(n) AS BIGINT) AS n,
        |    max(CASE WHEN r = (n + 3) // 4 THEN v END) AS q1_cents,
        |    max(CASE WHEN r = (n + 1) // 2 THEN v END) AS median_cents,
        |    max(CASE WHEN r = (3 * n + 1) // 4 THEN v END) AS q3_cents
        |  FROM r GROUP BY 1, 2)
        |SELECT event_type, wday, n, q1_cents, median_cents, q3_cents,
        |  q3_cents - q1_cents AS iqr_cents
        |FROM p ORDER BY event_type, wday""".stripMargin,

    "q52_assoc_rules" ->
      """WITH b AS (SELECT l_orderkey, list_sort(list_distinct(
        |      list(l_partkey))) AS ps
        |  FROM lineitem GROUP BY 1
        |  HAVING len(list_distinct(list(l_partkey))) BETWEEN 2 AND 8),
        |n AS (SELECT count(*) AS n_baskets FROM b),
        |items AS (SELECT l_orderkey, unnest(ps) AS x FROM b),
        |nx AS (SELECT x, count(*) AS n_x FROM items GROUP BY 1),
        |pairs AS (SELECT a.l_orderkey, a.x, bb.x AS y
        |  FROM items a JOIN items bb
        |    ON a.l_orderkey = bb.l_orderkey AND a.x <> bb.x),
        |nxy AS (SELECT x, y, count(*) AS n_xy FROM pairs GROUP BY 1, 2)
        |SELECT nxy.x, nxy.y, nxy.n_xy,
        |  CAST(CAST(1000000 AS HUGEINT) * nxy.n_xy // ax.n_x
        |       AS BIGINT) AS conf_e6,
        |  CAST(CAST(1000000 AS HUGEINT) * nxy.n_xy * n.n_baskets
        |       // (CAST(ax.n_x AS HUGEINT) * ay.n_x) AS BIGINT) AS lift_e6
        |FROM nxy JOIN nx ax ON ax.x = nxy.x
        |JOIN nx ay ON ay.x = nxy.y CROSS JOIN n
        |WHERE nxy.n_xy >= 3
        |ORDER BY lift_e6 DESC, nxy.x, nxy.y LIMIT 50""".stripMargin,

    "q51_trend_slope" ->
      """WITH t0 AS (SELECT min(ts) AS t0 FROM events),
        |b AS (SELECT event_type,
        |    (epoch_us(CAST(ts AS TIMESTAMP))
        |     - epoch_us(CAST(t0.t0 AS TIMESTAMP))) // 60000000 AS x,
        |    CAST(round(value*100) AS BIGINT) AS y
        |  FROM events CROSS JOIN t0),
        |s AS (SELECT event_type, count(*) AS n, sum(x) AS sx,
        |    sum(y) AS sy, sum(x*y) AS sxy, sum(x*x) AS sxx
        |  FROM b GROUP BY 1),
        |c AS (SELECT event_type, n,
        |    n * sxy - sx * sy AS num, n * sxx - sx * sx AS den
        |  FROM s)
        |SELECT event_type, n,
        |  CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
        |       WHEN num >= 0 THEN CAST(1000000 * num // den AS BIGINT)
        |       ELSE -CAST((1000000 * (-num)) // den AS BIGINT) END
        |    AS slope_e6
        |FROM c ORDER BY event_type""".stripMargin,

    "q50_key_gap_audit" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders
        |  WHERE o_orderkey % 101 <> 7
        |    AND o_orderkey NOT BETWEEN 5000 AND 5004),
        |x AS (SELECT k, lead(k) OVER (ORDER BY k) AS nxt FROM o)
        |SELECT k + 1 AS gap_from, nxt - 1 AS gap_to,
        |  nxt - 1 - k AS n_missing
        |FROM x WHERE nxt > k + 1 ORDER BY gap_from""".stripMargin,

    "q49_markov" ->
      """WITH x AS (SELECT event_type,
        |    lead(event_type) OVER w AS to_type,
        |    epoch_us(CAST(lead(ts) OVER w AS TIMESTAMP))
        |      - epoch_us(CAST(ts AS TIMESTAMP)) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |t AS (SELECT event_type AS from_type, to_type, count(*) AS n
        |  FROM x WHERE to_type IS NOT NULL AND gap_us <= 1800000000
        |  GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  CAST(CAST(1000000 AS HUGEINT) * n
        |       // (sum(n) OVER (PARTITION BY from_type))
        |    AS BIGINT) AS p_e6
        |FROM t ORDER BY from_type, to_type""".stripMargin,

    "q48_fk_audit" ->
      """WITH dirty AS (
        |  SELECT o_orderkey, o_custkey FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey + 1000000 FROM orders
        |  WHERE o_orderkey % 97 = 0)
        |SELECT * FROM (
        |  SELECT 'orders->customer' AS relation, count(*) AS n_orphans
        |  FROM dirty WHERE NOT EXISTS (SELECT 1 FROM customer
        |    WHERE c_custkey = dirty.o_custkey)
        |  UNION ALL
        |  SELECT 'lineitem->orders', count(*) FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM orders
        |    WHERE o_orderkey = lineitem.l_orderkey)
        |  UNION ALL
        |  SELECT 'lineitem->part', count(*) FROM lineitem
        |  WHERE NOT EXISTS (SELECT 1 FROM part
        |    WHERE p_partkey = lineitem.l_partkey)
        |  UNION ALL
        |  SELECT 'customer->nation', count(*) FROM customer
        |  WHERE NOT EXISTS (SELECT 1 FROM nation
        |    WHERE n_nationkey = customer.c_nationkey))
        |ORDER BY relation""".stripMargin,

    "q47_decile_stats" ->
      """WITH r AS (SELECT
        |    ntile(10) OVER (ORDER BY CAST(round(o_totalprice*100)
        |      AS BIGINT) DESC, o_orderkey) AS decile,
        |    o_totalprice
        |  FROM orders),
        |d AS (SELECT decile, count(*) AS n_orders,
        |    CAST(round(sum(o_totalprice*100)) AS BIGINT) AS rev_cents
        |  FROM r GROUP BY 1),
        |t AS (SELECT sum(rev_cents) AS total FROM d)
        |SELECT decile, n_orders, rev_cents,
        |  CAST(rev_cents AS DOUBLE) / total AS share
        |FROM d CROSS JOIN t ORDER BY decile""".stripMargin,

    "q46_weighted_median" ->
      """WITH e AS (SELECT l_returnflag AS rf,
        |    CAST(round(l_extendedprice*100) AS BIGINT) AS v,
        |    CAST(l_quantity AS BIGINT) AS w,
        |    l_orderkey AS ok, l_linenumber AS ln
        |  FROM lineitem),
        |r AS (SELECT rf, v,
        |    sum(w) OVER (PARTITION BY rf ORDER BY v, ok, ln
        |                 ROWS UNBOUNDED PRECEDING) AS cumw,
        |    sum(w) OVER (PARTITION BY rf) AS total
        |  FROM e)
        |SELECT rf AS l_returnflag, min(v) AS wmed_cents,
        |  CAST(min(total) AS BIGINT) AS total_weight
        |FROM r WHERE cumw * 2 >= total
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q43_mad_outliers" ->
      """WITH e AS (SELECT event_id, event_type,
        |    CAST(round(value*100) AS BIGINT) AS v FROM events),
        |r AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |        ORDER BY v, event_id) AS rn,
        |      count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |med AS (SELECT event_type, v AS med FROM r WHERE rn = (n + 1) // 2),
        |d AS (SELECT e.event_id, e.event_type, e.v, m.med,
        |        abs(e.v - m.med) AS dev
        |      FROM e JOIN med m USING (event_type)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY event_type
        |         ORDER BY dev, event_id) AS rn,
        |       count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS (SELECT event_type, dev AS mad FROM r2
        |        WHERE rn = (n + 1) // 2)
        |SELECT d.event_id, d.event_type, d.v AS v_cents,
        |  d.med AS med_cents, mad.mad AS mad_cents, d.dev AS dev_cents
        |FROM d JOIN mad USING (event_type)
        |WHERE d.dev > 3 * mad.mad
        |ORDER BY event_type, event_id""".stripMargin,

    // DuckDB 1.0 has no width_bucket; the SQL-standard semantics spelled
    // out: underflow -> 0, overflow -> n+1, else 1 + (v-lo) div width.
    "q44_histogram" ->
      """SELECT event_type,
        |  CAST(CASE WHEN v < 0 THEN 0 WHEN v >= 50000 THEN 26
        |       ELSE 1 + v // 2000 END AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM (SELECT event_type, CAST(round(value*100) AS BIGINT) AS v
        |      FROM events)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q45_pareto" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(round(sum(l_extendedprice * (1 - l_discount) * 100))
        |      AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1),
        |tot AS (SELECT sum(rev_cents) AS total FROM rev)
        |SELECT
        |  CAST(row_number() OVER w AS BIGINT) AS rk,
        |  l_suppkey, rev_cents,
        |  CAST(rev_cents AS DOUBLE) / total AS share,
        |  CAST(sum(rev_cents) OVER (w ROWS UNBOUNDED PRECEDING)
        |    AS DOUBLE) / total AS cum_share
        |FROM rev CROSS JOIN tot
        |WINDOW w AS (ORDER BY rev_cents DESC, l_suppkey ASC)
        |ORDER BY rk""".stripMargin,

    "q18b_set_ops_all" ->
      """WITH a AS (SELECT l_suppkey FROM lineitem),
        |     b AS (SELECT l_suppkey FROM lineitem WHERE l_quantity > 25)
        |SELECT op, l_suppkey, count(*) AS n_copies FROM (
        |  SELECT 'except_all' AS op, l_suppkey FROM (
        |    SELECT l_suppkey FROM a EXCEPT ALL SELECT l_suppkey FROM b)
        |  UNION ALL
        |  SELECT 'intersect_all', l_suppkey FROM (
        |    SELECT l_suppkey FROM a INTERSECT ALL SELECT l_suppkey FROM b))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q39_running_distinct" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(sum(first_flag) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |    AS n_types_seen
        |FROM (SELECT user_id, event_id, ts,
        |        CASE WHEN row_number() OVER (
        |            PARTITION BY user_id, event_type
        |            ORDER BY ts, event_id) = 1 THEN 1 ELSE 0 END
        |          AS first_flag
        |      FROM events)
        |ORDER BY user_id, ts, event_id""".stripMargin,

    "q38_rolling_distinct" ->
      """WITH ud AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day
        |            FROM events),
        |x AS (SELECT user_id,
        |        day + INTERVAL 1 DAY * CAST(gs AS INT) AS wday
        |      FROM ud, generate_series(0, 6) AS t(gs)),
        |mx AS (SELECT max(day) AS max_day FROM ud)
        |SELECT CAST(wday AS TIMESTAMP) AS wday,
        |  count(DISTINCT user_id) AS wau
        |FROM x CROSS JOIN mx WHERE wday <= mx.max_day
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q12_running_sum" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(sum(CAST(round(value*100) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS running_cents
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin,

    "q12b_range_frame" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(sum(CAST(round(value*100) AS BIGINT))
        |    OVER (PARTITION BY user_id ORDER BY epoch_us(CAST(ts AS TIMESTAMP))
        |          RANGE BETWEEN 604799999999 PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS trail_cents
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin,

    "q13_lag_lead" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
        |  date_diff('microsecond',
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |    ts) AS gap_us
        |FROM events ORDER BY user_id, ts, event_id""".stripMargin,

    "q14_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  count(*) AS cnt,
        |  CAST(round(sum(l_extendedprice*100)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,

    "q14b_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  GROUPING(l_returnflag, l_linestatus) AS gid,
        |  count(*) AS cnt,
        |  CAST(round(sum(l_extendedprice*100)) AS BIGINT) AS revenue_cents
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, rf, ls""".stripMargin,

    "q14c_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf,
        |  coalesce(l_linestatus, 'ALL') AS ls,
        |  count(*) AS cnt
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY rf, ls""".stripMargin,

    "q15_distinct_agg" ->
      """SELECT event_type, count(DISTINCT user_id) AS uniq_users,
        |  count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q17_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,

    "q18_set_ops" ->
      """WITH a AS (SELECT c_custkey FROM customer
        |           WHERE c_mktsegment = 'AUTOMOBILE'),
        |     b AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        |SELECT 'union' AS op, c_custkey FROM (
        |  SELECT c_custkey FROM a UNION SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT 'intersect', c_custkey FROM (
        |  SELECT c_custkey FROM a INTERSECT SELECT c_custkey FROM b)
        |UNION ALL
        |SELECT 'except', c_custkey FROM (
        |  SELECT c_custkey FROM a EXCEPT SELECT c_custkey FROM b)
        |ORDER BY op, c_custkey""".stripMargin,

    "q19_scalar_funcs" ->
      """SELECT c_custkey,
        |  upper(substr(c_name, 1, 8)) AS name8,
        |  concat(c_mktsegment, '-', CAST(c_nationkey AS VARCHAR)) AS seg_nat,
        |  length(c_name) AS name_len,
        |  c_name LIKE '%1%' AS has_one,
        |  CASE WHEN c_acctbal < 0 THEN 'neg'
        |       WHEN c_acctbal < 5000 THEN 'mid'
        |       ELSE 'high' END AS bal_band,
        |  round(abs(c_acctbal), 2) AS abs_bal,
        |  round(pow(CAST(c_nationkey AS DOUBLE), 2), 1) AS nat_sq
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q19_date_funcs" ->
      """SELECT o_orderkey,
        |  date_trunc('month', o_orderdate) AS order_month,
        |  CAST(year(o_orderdate) AS INT) AS order_year,
        |  CAST(quarter(o_orderdate) AS INT) AS order_quarter,
        |  CAST(dayofweek(o_orderdate) + 1 AS INT) AS order_dow,
        |  CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01')
        |       AS INT) AS days_to_2002
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q20_json" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |       AS BIGINT) AS sum_k,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS cnt_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q20b_variant" ->
      """SELECT event_type,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
        |       AS BIGINT) AS sum_k,
        |  count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS cnt_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q21_array_funcs" ->
      """SELECT vec_id, len(embedding) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 4) AS e0,
        |  round(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 4) AS norm_sq
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q22_struct_map" ->
      """SELECT c_custkey, c_nationkey AS nat, c_mktsegment AS seg
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q23_correlated_subquery" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,

    "q23b_decorrelated_join" ->
      """SELECT c_custkey, round(c_acctbal, 2) AS bal
        |FROM customer c
        |WHERE c_acctbal > (SELECT avg(c2.c_acctbal) FROM customer c2
        |                   WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""".stripMargin,

    "q24_having" ->
      """SELECT n_name,
        |  CAST(round(sum(o_totalprice*100)) AS BIGINT) AS revenue_cents
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1
        |HAVING CAST(round(sum(o_totalprice*100)) AS BIGINT) > 10000000
        |ORDER BY 1""".stripMargin,

    "q25_pivot" ->
      """SELECT n_name,
        |  CAST(round(sum(CASE WHEN o_orderstatus='F'
        |                      THEN o_totalprice*100 END)) AS BIGINT) AS st_f,
        |  CAST(round(sum(CASE WHEN o_orderstatus='O'
        |                      THEN o_totalprice*100 END)) AS BIGINT) AS st_o,
        |  CAST(round(sum(CASE WHEN o_orderstatus='P'
        |                      THEN o_totalprice*100 END)) AS BIGINT) AS st_p
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q15b_listagg" ->
      """SELECT l_returnflag,
        |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
        |    AS statuses
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin,

    "q25b_unpivot" ->
      """WITH w AS (SELECT l_returnflag,
        |    CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |    CAST(sum(CAST(round(l_extendedprice*100) AS BIGINT)) AS BIGINT)
        |      AS sum_price_cents,
        |    count(*) AS cnt
        |  FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, measure, value FROM (
        |  SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'sum_price_cents', sum_price_cents FROM w
        |  UNION ALL
        |  SELECT l_returnflag, 'cnt', cnt FROM w)
        |ORDER BY l_returnflag, measure""".stripMargin,

    "q26_explode_shingles" ->
      """WITH g AS (SELECT doc_id, text,
        |    unnest(generate_series(1, n_chars - 2)) AS gs
        |  FROM documents WHERE n_chars >= 3)
        |SELECT doc_id,
        |  count(DISTINCT substr(text, CAST(gs AS INT), 3)) AS n_shingles
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,

    "q28_percentiles" ->
      """SELECT event_type,
        |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.5), 4)
        |    AS p50_cents,
        |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.9), 4)
        |    AS p90_cents,
        |  round(quantile_cont(CAST(round(value*100) AS BIGINT), 0.99), 4)
        |    AS p99_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q11b_window_funcs" ->
      """SELECT event_type, event_id,
        |  ntile(10) OVER w AS decile,
        |  first_value(event_id) OVER w AS top_id,
        |  last_value(event_id) OVER wf AS bottom_id,
        |  nth_value(event_id, 3) OVER wf AS third_id
        |FROM events
        |WINDOW w AS (PARTITION BY event_type
        |    ORDER BY CAST(round(value*100) AS BIGINT) DESC, event_id),
        |  wf AS (PARTITION BY event_type
        |    ORDER BY CAST(round(value*100) AS BIGINT) DESC, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_type, event_id""".stripMargin,

    "q30_recursive_cte" ->
      """WITH RECURSIVE ok AS (SELECT l_orderkey FROM lineitem GROUP BY 1
        |       HAVING count(DISTINCT l_partkey) <= 3),
        |pairs AS (SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
        |          FROM lineitem a JOIN lineitem b
        |            ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |          WHERE a.l_orderkey IN (SELECT l_orderkey FROM ok)),
        |e AS (SELECT x AS src, y AS dst FROM pairs
        |      UNION ALL SELECT y, x FROM pairs),
        |walk(id, d) AS (
        |  SELECT (SELECT min(src) FROM e), 0
        |  UNION ALL
        |  SELECT e2.dst, w.d + 1 FROM walk w JOIN e e2 ON e2.src = w.id
        |  WHERE w.d < 3)
        |SELECT id, min(d) AS dist FROM walk GROUP BY id ORDER BY id""".stripMargin,

    "q29_heavy_hitters" -> heavyHittersSql,
    // q29b's no-eviction sketch is exact, so the sketch plumbing is held
    // to the SAME oracle as the exact aggregation
    "q29b_approx_top_k" -> heavyHittersSql
  )

  // the KMP machine on the fixed contiguous pattern is DEFINED to
  // reproduce q42's replace trick — same oracle verbatim
  val oracles: Map[String, String] =
    oracles0 +
      ("q57b_pattern_contiguous" -> oracles0("q42_seq_pattern")) +
      // q59b is q59 through the match_rows TVF — same machine, oracle
      ("q59b_match_rows_sql" -> oracles0("q59_pattern_match_rows")) +
      // q59d is q59c through the match_measures TVF — same machine
      ("q59d_match_measures_sql" -> oracles0("q59c_match_measures")) +
      // q57g is q57f through the match_reanchored TVF — same machine
      ("q57g_reanchor_sql" -> oracles0("q57f_pattern_reanchor"))

  private lazy val heavyHittersSql: String =
    """SELECT token, count(*) AS n FROM (
      |  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS token
      |  FROM documents)
      |GROUP BY 1 HAVING count(*) >= 100 ORDER BY token""".stripMargin
}
