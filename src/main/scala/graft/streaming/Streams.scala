package graft.streaming

import graft.Det
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

/** Streaming surface (SURVEY.md §2.4 S01–S07), written as UNIFIED
  * transforms: each takes a DataFrame that may be batch or streaming —
  * the same Catalyst plan runs under `IncrementalExecution` with state
  * stores when the source is a stream. Batch runs of the same transforms
  * are the oracle (SURVEY §2.4: batch-equivalence), so the functions are
  * declared once here and reused by both the query contract and the
  * MemoryStream tests.
  *
  * The reference analog is continuous temporal ingestion: change points
  * arriving over time with watermark-bounded lateness.
  */
object Streams {

  private val log =
    org.apache.logging.log4j.LogManager.getLogger(getClass)

  /** S01 — tumbling 1-hour counts per event type (watermark 10 min). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("ws"), col("event_type"), col("cnt"))

  /** S02 — sliding 1-hour/15-min window, sum of value in cents. */
  def slidingSumCents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(sum(Det.cents(col("value"))).as("sum_cents"))
      .select(col("window.start").as("ws"), col("event_type"), col("sum_cents"))

  /** S03 — session windows, 30-minute gap. NOTE the boundary rule:
    * `session_window` merges rows with ts' − ts < gap (strictly less), so
    * a gap of exactly 30 minutes starts a NEW session — T06's lag-based
    * batch operator uses strictly-greater (FIXTURES.md). The two agree on
    * every real timestamp in the fixtures (µs-random data never lands on
    * the exact boundary); both oracles encode their own rule.
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** S25 — streaming OHLC bars: per (user, 1-day tumbling window), the
    * open/high/low/close of the value stream — T24's time-series
    * downsample maintained CONTINUOUSLY. `min_by`/`max_by` keyed on the
    * (ts, event_id) total order are order-INSENSITIVE aggregates, so a
    * late row inside the watermark folds into the right bar exactly
    * (an order-dependent "first value wins" fold would not replay); in
    * batch the same plan collapses to T24's bars and hash-matches its
    * oracle — epoch-aligned 1-day windows start at UTC midnight, which
    * IS date_trunc('day').
    */
  def ohlcBars(events: DataFrame): DataFrame = {
    val v = Det.cents(col("value"))
    val ord = struct(col("ts"), col("event_id"))
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"),
        min_by(v, ord).as("open_cents"),
        max(v).as("high_cents"),
        min(v).as("low_cents"),
        max_by(v, ord).as("close_cents"))
      .select(col("user_id"), col("window.start").as("day"), col("n"),
        col("open_cents"), col("high_cents"), col("low_cents"),
        col("close_cents"))
  }

  /** S05 — stateful dedup on event_id within the watermark. */
  def dedupWithinWatermark(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** S07 — stream-static join: events enriched with the customer dim
    * (user_id = c_custkey % 50 bridge, FIXTURES.md).
    */
  def enrichWithCustomers(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(
      customer.select((col("c_custkey") % 50).as("user_id"),
          col("c_mktsegment"))
        .groupBy("user_id")
        .agg(min(col("c_mktsegment")).as("segment")),
      Seq("user_id"), "left_outer")

  /** S16 batch form — the latest change point per user (the reference's
    * "current state" read over its temporal store): one window shuffle on
    * the entity. Shared step function: the s16 driver twin runs it over
    * the whole table, and [[mergeSnapshot]] runs it per micro-batch to
    * maintain the same result incrementally.
    */
  def latestState(changes: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    changes.select("user_id", "event_id", "ts", "value")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("ts").as("last_ts"), Det.cents(col("value")).as("val_cents"))
  }

  /** S16 — idempotent snapshot MERGE for a foreachBatch sink: reduce the
    * incoming micro-batch to one row per entity, union with the current
    * state, keep the greatest (last_ts, last_event_id) per entity.
    * Replaying a batch is a no-op — the sink is exactly-once under
    * micro-batch retries, the property foreachBatch sinks must supply
    * themselves (asserted in StreamingSpec). At 100 TB this is MERGE
    * INTO a table bucketed on the entity with the batch side pre-reduced
    * — per batch, one shuffle of the (tiny) batch plus a co-located
    * merge, never a rescan of history.
    */
  def mergeSnapshot(state: DataFrame, batch: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("last_ts").desc, col("last_event_id").desc)
    state.unionByName(latestState(batch))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** T09 maintenance, step 1 — reduce one micro-batch to its per-(entity,
    * day) rollup partials, stamped with the batch id. The batch id is
    * what makes SUM/COUNT partials retry-safe: unlike [[mergeSnapshot]]'s
    * max-reduction (naturally idempotent), additive partials would
    * double-count on a replayed batch, so each batch's contribution is
    * stored as its OWN rows and a replay REPLACES them ([[mergeRollup]])
    * instead of adding to them.
    */
  def rollupPartials(batch: DataFrame, batchId: Long): DataFrame =
    graft.ops.Temporal.rollupDaily(batch, entity = "user_id", ts = "ts",
        valueCents = Det.cents(col("value")))
      .withColumn("batch_id", lit(batchId))

  /** T09 maintenance, step 2 — idempotent MERGE of one micro-batch into
    * the partials table: delete any rows this batch id wrote before,
    * insert the fresh partials. Exactly-once under foreachBatch retries
    * by construction (replay = same delete + same insert). At 100 TB the
    * partials table is bucketed on (entity) and the per-batch delta is
    * tiny — the merge shuffles the batch, never the history; a daily
    * compaction can fold settled days' partials into one row each
    * without changing any reader ([[dailyFromPartials]] re-aggregates
    * either way).
    */
  def mergeRollup(state: DataFrame, batch: DataFrame,
      batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(rollupPartials(batch, batchId))

  /** T09 maintenance, read side — the maintained partials table
    * re-aggregated to the exact [[graft.ops.Temporal.rollupDaily]]
    * result (min of mins / max of maxes / sum of sums): decomposability
    * is what makes the aggregation index maintainable at all. Feed this
    * to [[graft.ops.Temporal.reaggDaily]] for any coarser window — the
    * raw fact table is never rescanned.
    */
  def dailyFromPartials(state: DataFrame): DataFrame =
    state.groupBy(col("user_id"), col("day"))
      .agg(
        min("min_cents").as("min_cents"),
        max("max_cents").as("max_cents"),
        sum("sum_cents").as("sum_cents"),
        sum("cnt").as("cnt"))

  /** S24 — STREAMING rolling 7-day distinct users (the q38 WAU curve,
    * continuously): the contribution-explode made stream-safe by two
    * stateful dedups — (user, active-day) first (so a chatty user
    * costs one state row per day, not per event), then (user,
    * window-end day) after the ×7 explode (a user active on two days
    * of the same window must still count ONCE). Both dedup states and
    * the final per-day count are watermark-evictable; in batch the
    * same plan collapses to q38's exact result (dedup ∘ explode ∘
    * dedup ∘ count ≡ count-distinct per window-end day). The
    * last-activity clip stays with the batch reader — a stream has no
    * final day until the watermark closes it.
    */
  def rollingDistinctUsers(events: DataFrame): DataFrame =
    events
      .select(col("user_id"), date_trunc("DAY", col("ts")).as("day"))
      .dropDuplicates("user_id", "day")
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + expr("interval 6 days"),
          expr("interval 1 day"))).as("wday"))
      .dropDuplicates("user_id", "wday")
      .groupBy("wday")
      .agg(count(lit(1)).as("wau"))

  /** S23 — streaming importance-weight maintenance (continuous DSIR):
    * the L29 bucket statistics kept live as corpus batches land, so
    * the data-selection score table is always current without
    * re-scanning the corpus. Bucket counts are ADDITIVE over disjoint
    * doc sets (Text.bucketStats), so maintenance is the t09b partials
    * pattern verbatim: each micro-batch's stats stored as its OWN
    * batch-id-stamped rows, a replay REPLACES them (delete-then-insert
    * — additive counts would double on retry), and the read side
    * re-aggregates partials → stats → the ≤B-row score table. State
    * size is bounded by B·batches and compacts to B rows whenever
    * settled batches fold together (same move as dailyFromPartials).
    */
  def importancePartials(batch: DataFrame, isTarget: org.apache.spark.sql.Column,
      buckets: Int, batchId: Long): DataFrame =
    graft.ops.Text.bucketStats(
        graft.ops.Text.hashedFeatures(batch, isTarget, buckets))
      .withColumn("batch_id", lit(batchId))

  def mergeImportancePartials(state: DataFrame, batch: DataFrame,
      isTarget: org.apache.spark.sql.Column, buckets: Int,
      batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(importancePartials(batch, isTarget, buckets, batchId))

  /** Read side: maintained partials → the exact one-shot bucket stats. */
  def statsFromPartials(state: DataFrame): DataFrame =
    state.groupBy("fid").agg(
      sum("cnt_r").as("cnt_r"), sum("cnt_t").as("cnt_t"))

  /** S38 — streaming maintenance of the L50 bigram-LM model: the
    * reference corpus arrives as a stream, and the model stats
    * ([[graft.ops.Text.bigramStats]] — bigram counts, head counts,
    * per-token counts whose row count IS the vocabulary) are ADDITIVE
    * over disjoint doc sets, so maintenance is the t09b/s23 partials
    * pattern verbatim: per-batch stats stamped with their batch id,
    * replay REPLACES (delete-then-insert), the read side folds
    * partials and scores any corpus against the maintained model.
    * At 100 TB the stats table is reference-sized (and top-K-prunable)
    * exactly like the one-shot model; each merge shuffles only the
    * batch delta.
    */
  def bigramStatPartials(batch: DataFrame, isRef: org.apache.spark.sql.Column,
      batchId: Long): DataFrame =
    graft.ops.Text.bigramStats(batch.filter(isRef))
      .withColumn("batch_id", lit(batchId))

  def mergeBigramStatPartials(state: DataFrame, batch: DataFrame,
      isRef: org.apache.spark.sql.Column, batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(bigramStatPartials(batch, isRef, batchId))

  /** Read side: maintained partials → the exact one-shot model stats. */
  def bigramStatsFromPartials(state: DataFrame): DataFrame =
    state.groupBy("kind", "a", "b").agg(sum("n").as("n"))

  /** S40 — streaming maintenance of the cross-document duplicate-shingle
    * index (l52's global piece kept live): per batch, the DISTINCT
    * (shingle → doc count) of that batch's docs, stamped with the batch
    * id. Because a document lands WHOLLY in exactly one batch (the same
    * CDC convention as s23/s38) and replay REPLACES the batch's rows,
    * per-batch distinct-doc counts are additive across batches and the
    * folded index equals the one-shot build exactly. The per-doc span
    * CUT then stays an embarrassingly parallel map against this
    * maintained set — the read never rescans the corpus to rebuild the
    * global index, which is the point at 100 TB.
    */
  def shingleDocPartials(batch: DataFrame, k: Int,
      batchId: Long): DataFrame =
    graft.ops.Text.shingles(batch, k)
      .select("shingle", "doc_id").distinct()
      .groupBy("shingle").agg(count(lit(1)).as("nd"))
      .withColumn("batch_id", lit(batchId))

  def mergeShingleDocPartials(state: DataFrame, batch: DataFrame, k: Int,
      batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(shingleDocPartials(batch, k, batchId))

  /** Read side: maintained partials → the cross-doc duplicate set. */
  def dupShinglesFromPartials(state: DataFrame): DataFrame =
    state.groupBy("shingle").agg(sum("nd").as("nd"))
      .filter(col("nd") >= 2).select("shingle")

  /** S41 — streaming maintenance of the budget-selection score
    * histogram (l54's pass-1 aggregate kept live): per batch the
    * (score → token sum) rows of that batch's docs, batch-id-stamped
    * (token sums are additive over disjoint doc batches; replay
    * REPLACES). The selection read (Text.selectAgainstBuckets) then
    * computes the threshold from the MAINTAINED histogram — the global
    * piece — and the per-doc pass stays map-side.
    */
  def scoreBucketPartials(batch: DataFrame, batchId: Long): DataFrame =
    graft.ops.Text.scoreBuckets(graft.ops.Text.scored(batch))
      .withColumn("batch_id", lit(batchId))

  def mergeScoreBucketPartials(state: DataFrame, batch: DataFrame,
      batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(scoreBucketPartials(batch, batchId))

  /** Read side: maintained partials → the exact one-shot histogram. */
  def scoreBucketsFromPartials(state: DataFrame): DataFrame =
    state.groupBy("score").agg(sum("btoks").as("btoks"))

  /** S32 — streaming trend maintenance (Q51 live): the OLS sufficient
    * statistics (n, Σx, Σy, Σxy, Σx²) are ADDITIVE over disjoint event
    * sets, so a continuously-maintained regression is the t09b partials
    * pattern verbatim — per-batch per-type sums stamped with their
    * batch id, replay REPLACES (delete-then-insert; additive sums would
    * double on retry), read side folds partials and finishes the slope
    * in decimal(38,0) exactly as the batch query does. `originUs` is a
    * FIXED pipeline-configured x origin: the slope is shift-invariant,
    * but partials from different origins must never mix, so it is a
    * parameter, not a data-dependent min.
    */
  def trendPartials(batch: DataFrame, originUs: Long,
      batchId: Long): DataFrame =
    batch
      .withColumn("__dx", graft.Det.epochUs(col("ts")) - lit(originUs))
      .select(col("event_type"),
        expr("__dx div 60000000").as("x"),
        expr("CAST(round(value*100) AS BIGINT)").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .withColumn("batch_id", lit(batchId))

  def mergeTrendPartials(state: DataFrame, batch: DataFrame,
      originUs: Long, batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(trendPartials(batch, originUs, batchId))

  /** Read side: maintained partials → (event_type, n, slope_e6), the
    * q51 finish (decimal combination, truncate-toward-zero ratio).
    */
  def trendFromPartials(state: DataFrame): DataFrame =
    state.groupBy("event_type")
      .agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxy").as("sxy"), sum("sxx").as("sxx"))
      .withColumn("num", expr(
        "CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy"))
      .withColumn("den", expr(
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx"))
      // den = 0 (all x equal across every merged batch) → NULL slope,
      // pinned identically to q51's batch form (ADVICE r10).
      .withColumn("slope_e6", expr("""CASE WHEN den = 0 THEN CAST(NULL AS BIGINT)
          WHEN num >= 0
          THEN CAST(floor(1000000 * num / den) AS BIGINT)
          ELSE -CAST(floor(1000000 * (-num) / den) AS BIGINT) END"""))
      .select("event_type", "n", "slope_e6")

  /** S35 — streaming maintenance of the T38 mergeable percentile index:
    * the per-(entity, day, bucket) histogram counts kept live as event
    * batches land, so an arbitrary-range percentile query is always
    * answerable without rescanning the stream. The day-bucket counts
    * are ADDITIVE over disjoint event sets
    * ([[graft.ops.Temporal.histogramDaily]] is one groupBy-count), so
    * maintenance is the t09b partials pattern verbatim: each
    * micro-batch's histogram stored as its OWN batch-id-stamped rows, a
    * replay REPLACES them (delete-then-insert — additive counts would
    * double on retry), and the read side re-aggregates partials before
    * [[graft.ops.Temporal.percentilesFromHistogram]] walks the
    * cumulative ranks. State is bounded by entities × days × (nb+2) ×
    * batches and compacts to entities × days × (nb+2) whenever settled
    * batches fold together — never by stream length. At 100 TB the
    * partials table is bucketed on the entity and each merge shuffles
    * only the (tiny) batch delta.
    */
  def histogramPartials(batch: DataFrame, entity: String, ts: String,
      valueCents: org.apache.spark.sql.Column, loCents: Long,
      hiCents: Long, nBuckets: Int, batchId: Long): DataFrame =
    graft.ops.Temporal.histogramDaily(batch, entity, ts, valueCents,
        loCents, hiCents, nBuckets)
      .withColumn("batch_id", lit(batchId))

  def mergeHistogramPartials(state: DataFrame, batch: DataFrame,
      entity: String, ts: String,
      valueCents: org.apache.spark.sql.Column, loCents: Long,
      hiCents: Long, nBuckets: Int, batchId: Long): DataFrame =
    state.filter(col("batch_id") =!= batchId)
      .unionByName(histogramPartials(batch, entity, ts, valueCents,
        loCents, hiCents, nBuckets, batchId))

  /** Read side: maintained partials → the exact one-shot
    * [[graft.ops.Temporal.histogramDaily]] table (sum of sums — the
    * compaction and the query read are the same re-agg). Feed a
    * day-range filter of this to percentilesFromHistogram and the
    * answer equals the batch-built index's bit-for-bit.
    */
  def histogramFromPartials(state: DataFrame, entity: String): DataFrame =
    state.groupBy(col(entity), col("day"), col("bucket"))
      .agg(sum("n").as("n"))

  /** S27 — incremental connected components: fold one micro-batch of
    * edges into a maintained `(id, component)` label table — continuous
    * graph ingestion's core maintenance problem. The merge works on the
    * QUOTIENT graph: each batch edge (u, v) becomes an edge between the
    * endpoints' CURRENT components (new vertices start as their own),
    * CC runs on that super-edge list — sized by the BATCH, not the graph
    * — and the resulting `old comp → merged comp` map (≤ 2·|batch| rows)
    * relabels the full table in one pass. Correct because
    * existing labels already quotient all prior edges, so CC(labels ∪
    * batch) = CC over the quotient; the min-id label invariant survives
    * (min of merged mins = merged min). Re-applying a batch is a natural
    * no-op (merging merged components changes nothing) — idempotence for
    * free, asserted in StreamingSpec.
    *
    * The path is chosen by the batch's size (see [[ccApplyBatchPlan]]);
    * either way the next table is cut here, once.
    */
  def ccApplyBatch(s: org.apache.spark.sql.SparkSession, labels: DataFrame,
      edges: DataFrame): DataFrame =
    ccApplyBatchPlan(s, labels, edges).transform(graft.ops.Checkpoints.cut)

  /** [[ccApplyBatch]] WITHOUT the terminal lineage cut, choosing the path
    * from the batch's non-loop edge count:
    *  - at most [[graft.ops.Graphs.FrontierBroadcastRows]] edges (one
    *    bounded `limit(bound + 1)` collect tells, and returns them; a
    *    local frame — how a stream delivers a batch — runs no job for
    *    it): [[ccFoldOnDriver]] with no deletes builds the quotient and
    *    unions it on the driver ([[graft.ops.Graphs.unionFind]], the
    *    union-find of `connectedComponentsDF`), after ONE collect of the
    *    endpoints' labels (`labels` filtered by the batch ids'
    *    [[DriverSet]] probe: the table is only scanned). The result is
    *    `labels ∪ fresh ids` with their merged labels, the known
    *    components that merge relabelled by a [[DriverSet]] projection. A
    *    local batch's fold runs 2 jobs with the terminal cut — the lookup
    *    collect and the table cut — whether or not components merge;
    *  - above it: [[ccApplyBatchDistributed]].
    */
  private def ccApplyBatchPlan(s: org.apache.spark.sql.SparkSession,
      labels: DataFrame, edges: DataFrame): DataFrame =
    boundedEnds(nonLoopEdges(edges)) match {
      case Some(ends) =>
        ccFoldOnDriver(s, labels, ends, Array.emptyLongArray, null).get
      case None => ccApplyBatchDistributed(s, labels, edges)
    }

  private def nonLoopEdges(edges: DataFrame): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))

  /** The (src, dst) rows of `pairs` as ends (ends(2i), ends(2i+1) is pair
    * i) by one bounded `limit(bound + 1)` collect, or None above
    * [[graft.ops.Graphs.FrontierBroadcastRows]] rows. A local frame — how
    * a stream delivers a batch — runs no job for it.
    */
  private def boundedEnds(pairs: DataFrame): Option[Array[Long]] = {
    val bound = graft.ops.Graphs.FrontierBroadcastRows
    val rows = pairs.limit(bound.toInt + 1).collect()
    if (rows.length > bound) None
    else Some(rows.flatMap(r => Array(r.getLong(0), r.getLong(1))))
  }

  /** A local frame of the long columns `names` holding `rows`, each
    * column nullable only when a row holds a null there. An explicit
    * schema, because deriving a tuple encoder by reflection (`toDF`)
    * costs a batch-sized fold more than building its rows does.
    */
  private def longFrame(s: org.apache.spark.sql.SparkSession, rows: Seq[Row],
      names: String*): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(names.indices.map(i => StructField(names(i), LongType,
        nullable = rows.exists(_.isNullAt(i))))))

  /** Probes of a set the driver holds, carried inside the plan as typed
    * udfs over its sorted array (`java.util.Arrays.binarySearch`, O(log n)
    * per row): each is a filter or projection over the probed scan, in the
    * job the caller's collect or cut already runs — no broadcast exchange
    * and no build job. The set is a reference object of the generated
    * code, never a literal in it, so a fold of any batch reuses the
    * classes the last one compiled (`Column.isin` inlines sets of up to
    * 10 values). A probe of a null key is null: a filter on [[member]]
    * drops the row, as a semi join does, and [[absent]] and
    * [[pairAbsent]] keep it, as an anti join does.
    */
  private[graft] object DriverSet {
    import java.util.Arrays.binarySearch

    /** `c ∈ set` (any order, duplicates allowed). */
    def member(set: Array[Long])(c: Column): Column = {
      val ids = graft.ops.Graphs.sortedDistinct(set)
      udf((v: Long) => binarySearch(ids, v) >= 0).apply(c)
    }

    /** `c ∉ set`, true for a null `c`. */
    def absent(set: Array[Long])(c: Column): Column =
      !coalesce(member(set)(c), lit(false))

    /** `(a, b) ∉` the pairs of `ends` (ends(2i), ends(2i+1) is pair i),
      * true when `a` or `b` is null.
      */
    def pairAbsent(ends: Array[Long])(a: Column, b: Column): Column = {
      val ps = ends.grouped(2).map(p => (p(0), p(1))).toArray.distinct.sorted
      // the distinct first ends, and where each one's run of second ends
      // starts in `ys` (sorted within the run); starts.last == ys.length
      val firsts = graft.ops.Graphs.sortedDistinct(ps.map(_._1))
      val ys = ps.map(_._2)
      val starts = (ps.indices.filter(i => i == 0 || ps(i - 1)._1 != ps(i)._1)
        :+ ps.length).toArray
      val hit = udf { (x: Long, y: Long) =>
        val k = binarySearch(firsts, x)
        k >= 0 && binarySearch(ys, starts(k), starts(k + 1), y) >= 0
      }
      !coalesce(hit(a, b), lit(false))
    }

    /** `c` moved to `to(j)` where `from(j) == c` (`from` sorted distinct,
      * `to` parallel to it), else `c`; null for a null `c`.
      */
    def relabel(from: Array[Long], to: Array[Long])(c: Column): Column =
      udf { (v: Long) =>
        val j = binarySearch(from, v)
        if (j >= 0) to(j) else v
      }.apply(c)
  }

  /** The driver fold of a batch of non-loop inserts `ins` and deletes
    * `del` (both as ends), uncut: the next label table, or None when the
    * live edges of the components the deletes touch exceed the driver
    * bound. `live` is read only when a delete touches a component.
    *  1. one collect of `labels` filtered by the batch ids (a
    *     [[DriverSet]] probe) fetches every batch id's current label; the
    *     delete endpoints' labels are the touched components;
    *  2. [[carve]] brings back the touched components' vertices and then
    *     their surviving edges, and union-find recolours them — a vertex
    *     left without edges drops out;
    *  3. the quotient edges (each insert between its endpoints' labels
    *     after step 2; a fresh id is its own, loops dropped) are unioned
    *     with min-id roots, so the min-id invariant holds;
    *  4. the table is `labels` with the touched components dropped and
    *     the merged untouched ones relabelled (one [[DriverSet]] filter
    *     and projection, only when some component moves or goes), plus
    *     the recoloured ids and the inserts' fresh ids, each with its
    *     merged label.
    */
  private def ccFoldOnDriver(s: org.apache.spark.sql.SparkSession,
      labels: DataFrame, ins: Array[Long], del: Array[Long],
      live: DataFrame): Option[DataFrame] = {
    import java.util.Arrays.binarySearch
    import graft.ops.Graphs.{sortedDistinct, unionFind}
    val ids = sortedDistinct(ins ++ del)
    // each batch id's current component, when the table has one
    val comp = new Array[Long](ids.length)
    val known = new Array[Boolean](ids.length)
    if (ids.nonEmpty)
      labels.select(col("id").cast("long"), col("component").cast("long"))
        .filter(DriverSet.member(ids)(col("id")))
        .collect().foreach { r =>
          val j = binarySearch(ids, r.getLong(0))
          comp(j) = r.getLong(1)
          known(j) = true
        }
    val touched = sortedDistinct(
      del.map(binarySearch(ids, _)).filter(known(_)).map(comp(_)))
    def untouched(j: Int): Boolean =
      known(j) && binarySearch(touched, comp(j)) < 0
    val recoloured =
      if (touched.isEmpty) Some(Array.emptyLongArray)
      else carve(labels, live, touched, del)
    recoloured.map { ends =>
      val (rIds, rRoots) = unionFind(ends)
      // a batch id's label once the deletes are applied, if it keeps one
      def after(v: Long): Option[Long] = {
        val r = binarySearch(rIds, v)
        val j = binarySearch(ids, v)
        if (r >= 0) Some(rRoots(r))
        else if (untouched(j)) Some(comp(j))
        else None
      }
      val quotient = Array.newBuilder[Long]
      var i = 0
      while (i < ins.length) {
        val a = after(ins(i)).getOrElse(ins(i))
        val b = after(ins(i + 1)).getOrElse(ins(i + 1))
        if (a != b) { quotient += a; quotient += b }
        i += 2
      }
      val (qIds, qRoots) = unionFind(quotient.result())
      def root(c: Long): Long = {
        val j = binarySearch(qIds, c)
        if (j >= 0) qRoots(j) else c
      }
      val fresh = sortedDistinct(ins).filter(after(_).isEmpty)
      val added = longFrame(s,
        rIds.indices.map(j => Row(rIds(j), root(rRoots(j)))) ++
          fresh.map(v => Row(v, root(v))), "id", "component")
      // a touched component leaves the table (its ids re-enter through
      // `added`); an untouched one that merged moves to its root
      val merged = sortedDistinct(ids.indices.filter(untouched).map(comp(_))
        .toArray).filter(c => root(c) != c)
      val kept = if (touched.isEmpty && merged.isEmpty) labels
        else labels
          .filter(DriverSet.absent(touched)(col("component").cast("long")))
          .select(col("id"), DriverSet.relabel(merged, merged.map(root))(
            col("component").cast("long")).as("component"))
      foldUnion(labels, kept, added)
    }
  }

  /** The live edges of the `touched` components (sorted ids) that survive
    * the deletes `del` (ends), loops dropped, as ends — or None above the
    * driver bound. The vertex side is bounded first: a component of n
    * vertices holds at least n − 1 live edges, so more than bound +
    * |touched| vertices means more than bound edges. One bounded collect
    * of `labels` filtered by the touched ids fetches the vertices, and one
    * of `live` filtered by those vertices on src (an edge never crosses
    * components) the edges: two jobs, each probe a [[DriverSet]] filter
    * over its scan, nothing broadcast.
    */
  private def carve(labels: DataFrame, live: DataFrame, touched: Array[Long],
      del: Array[Long]): Option[Array[Long]] = {
    val bound = graft.ops.Graphs.FrontierBroadcastRows
    for {
      verts <- boundedRows(labels
        .filter(DriverSet.member(touched)(col("component").cast("long")))
        .select(col("id").cast("long")), bound + touched.length)
      edges <- boundedRows(live
        .select(col("src").cast("long"), col("dst").cast("long"))
        .filter(DriverSet.member(verts.filterNot(_.isNullAt(0))
          .map(_.getLong(0)))(col("src"))), bound)
    } yield {
      val gone = del.grouped(2).map(p => (p(0), p(1))).toSet
      edges.iterator.map(r => (r.getLong(0), r.getLong(1)))
        .filter(p => p._1 != p._2 && !gone(p))
        .flatMap(p => Iterator(p._1, p._2)).toArray
    }
  }

  /** The rows of `df` by one job, or None above `bound` rows. Each
    * partition stops after bound + 1 rows before the single-partition
    * gather (`limit` then `coalesce`), so an over-bound frame is never
    * shuffled whole, and no `limit` scale-up series of jobs runs.
    */
  private def boundedRows(df: DataFrame, bound: Long): Option[Array[Row]] = {
    val rows = df.limit(bound.toInt + 1).coalesce(1).collect()
    if (rows.length > bound) None else Some(rows)
  }

  /** The distributed fold of [[ccApplyBatchPlan]], for batches above the
    * driver bound (tests call it directly to pin it on small batches),
    * WITHOUT the terminal cut — so the plan-shape gate (StreamingSpec)
    * can assert the relabel read's Exchange budget. The batch-sized
    * intermediates (batch nodes, their label lookup, the quotient edges)
    * are cut eagerly here, each once, and their sizes are observed on
    * those cuts' jobs; the quotient CC is
    * [[graft.ops.Graphs.connectedComponentsDF]].
    */
  private[graft] def ccApplyBatchDistributed(
      s: org.apache.spark.sql.SparkSession, labels: DataFrame,
      edges: DataFrame): DataFrame = {
    val e = nonLoopEdges(edges)
    // cut once: the distinct runs in the cut's job, which also reports
    // the row count the broadcast hints key on — no separate count job
    val (nodes, nodeRows) = graft.ops.Checkpoints.cutCounted(
      e.select(col("src").as("id"))
        .unionAll(e.select(col("dst").as("id"))).distinct())
    // r20 (guide §2.4 / VERDICT r19 #3): the old `nodes LEFT JOIN labels`
    // + `lab ANTI labels` pair planned as sort-merge joins that SHUFFLED
    // the accumulated label table twice per batch — per-batch cost
    // O(|labels| shuffle), the one thing a maintained fold must never
    // pay. Restructured so every probe of the big table broadcasts the
    // BATCH side (the ccApplyDelta hint discipline): labels are now only
    // SCANNED, never exchanged — per-batch network cost tracks the batch.
    // `lab` is the batch's whole lookup in ONE cut: every batch id with
    // its current label (the labels rows a broadcast semi probe keeps,
    // outer-joined back onto the batch ids) or, when the table has none,
    // itself, flagged `fresh` — the rows the fold adds to the table.
    def hint(df: DataFrame): DataFrame =
      if (nodeRows <= graft.ops.Graphs.FrontierBroadcastRows) broadcast(df)
      else df
    val lab = nodes
      .join(hint(labels.select("id", "component")
        .join(hint(nodes), Seq("id"), "left_semi")), Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"),
        col("component").isNull.as("fresh"))
      .transform(graft.ops.Checkpoints.cut)
    val newIds = lab.filter(col("fresh")).select("id", "component")
    val superEdges = e
      .join(hint(lab.select(col("id").as("src"), col("component").as("c1"))),
        "src")
      .join(hint(lab.select(col("id").as("dst"), col("component").as("c2"))),
        "dst")
      .select(col("c1").as("src"), col("c2").as("dst"))
      .filter(col("src") =!= col("dst"))
    // cut with its count observed: an empty quotient (the batch merges
    // nothing) is known from the cut's own job, and the CC reads the cut
    // instead of re-running both relabel joins
    val (superCut, superRows) = graft.ops.Checkpoints.cutCounted(superEdges)
    val remap =
      if (superRows == 0L) null
      else graft.ops.Graphs.connectedComponentsDF(s, superCut)
        .filter(col("id") =!= col("component"))
        .select(col("id").as("component"), col("component").as("__new"))
    val all = foldUnion(labels, labels, newIds)
    if (remap == null) all else relabel(all, remap)
  }

  /** `table` with each component moved along the (component, __new)
    * `remap`, which is batch-sized and broadcast.
    */
  private def relabel(table: DataFrame, remap: DataFrame): DataFrame =
    table.join(broadcast(remap), Seq("component"), "left")
      .select(col("id"),
        coalesce(col("__new"), col("component")).as("component"))

  /** `kept ∪ added` as the next maintained label table, coalesced to
    * at most max(partitions of `labels`, spark.sql.shuffle.partitions):
    * a plain union gains the batch's partitions on every fold, and every
    * later scan of the table would pay one task per partition ever added.
    * `labels` is the fold's input table — a lineage cut, so sizing it
    * runs no job (and reading its plan's RDD, not `Dataset.rdd`, plans no
    * deserializing query either).
    */
  private def foldUnion(labels: DataFrame, kept: DataFrame,
      added: DataFrame): DataFrame = {
    val bound = math.max(labels.queryExecution.toRdd.getNumPartitions,
      labels.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    kept.unionByName(added).coalesce(bound)
  }

  /** S27b — incremental connected components WITH RETRACTIONS: one
    * micro-batch of edge inserts AND deletes folded into the maintained
    * labels (user unmerge, GDPR erasure — the maintenance event the
    * insert-only [[ccApplyBatch]] cannot express: deleting a bridge
    * must SPLIT a component, which no monotone merge ever does).
    *
    * Exact decremental connectivity needs the surviving edges — a label
    * table alone cannot tell a redundant edge from a bridge — so the
    * maintained state grows to (labels, live edge set); the edge set is
    * the graph the pipeline already ingests, kept checkpoint-cut.
    *
    * The fold is a bounded re-color, never a global recompute: the
    * components the deletes touch (the labels of their endpoints) are
    * re-colored from their surviving live edges (an edge never crosses
    * components, so carving by the src label is complete), vertices left
    * edge-less drop out exactly as a from-scratch CC over the survivors
    * drops them, untouched labels pass through, and the inserts then
    * fold by the quotient-graph merge — delete-then-insert, equal to
    * CC(live ∖ del ∪ ins) because CC is confluent from any correct
    * labeling. Labels stay their components' min ids. Cost scales with
    * the touched components' edge counts + |batch|, not the graph.
    *
    * The path is chosen by size, like [[ccApplyBatch]]'s:
    *  - the deletes and the non-loop inserts each fit
    *    [[graft.ops.Graphs.FrontierBroadcastRows]] (bounded collects; a
    *    local frame runs no job) and so do the touched components' live
    *    edges: the fold runs on the driver ([[ccFoldOnDriver]]) after one
    *    label-lookup collect and the two bounded carve collects (the
    *    touched components' vertices, then their live edges), and each
    *    table is cut once — 2 cuts. A local batch that deletes and inserts
    *    runs 5 jobs, one per action: the lookup, the two carve collects
    *    and the two cuts. Every probe by a driver-held set (batch ids,
    *    touched ids, their vertices, the component moves, the deletes) is
    *    a [[DriverSet]] filter or projection inside those jobs;
    *  - otherwise [[ccApplyDeltaDistributed]].
    *
    * The live table is `live ⋉anti del`, then `∪ ins, distinct` only when
    * there are inserts ([[nextLive]], on both paths): it stays a multiset
    * while the inserts are empty, every copy of a deleted pair goes, and
    * an edge both deleted and inserted stays live. Loop deletes apply;
    * loop inserts are dropped.
    * StreamingSpec pins the bridge-delete SPLIT == from-scratch CC and
    * both paths == union-find; the s27b registry entry holds the
    * 3-insert-batch + 1-delete-batch fold to g06's oracle over the
    * surviving edge list.
    */
  def ccApplyDelta(s: org.apache.spark.sql.SparkSession, labels: DataFrame,
      liveEdges: DataFrame, inserts: DataFrame, deletes: DataFrame)
      : (DataFrame, DataFrame) = {
    def frame(ends: Array[Long]) = longFrame(s,
      ends.grouped(2).map(p => Row(p(0), p(1))).toSeq, "src", "dst")
    val driver = for {
      // a repeated delete changes nothing, so the deletes stay as collected
      del <- boundedEnds(deletes.select(col("src").cast("long"),
        col("dst").cast("long")).na.drop())
      ins <- boundedEnds(nonLoopEdges(inserts))
      table <- ccFoldOnDriver(s, labels, ins, del, liveEdges)
    } yield {
      val live = nextLive(
        if (del.isEmpty) liveEdges
        else liveEdges.filter(DriverSet.pairAbsent(del)(
          col("src").cast("long"), col("dst").cast("long"))),
        None, Option.when(ins.nonEmpty)(frame(ins)))
      (table.transform(graft.ops.Checkpoints.cut),
        if (del.isEmpty && ins.isEmpty) liveEdges
        else live.transform(graft.ops.Checkpoints.cut))
    }
    driver.getOrElse(
      ccApplyDeltaDistributed(s, labels, liveEdges, inserts, deletes))
  }

  /** The live-edge rule of a retraction, uncut: `live ⋉anti del` (every
    * copy of a deleted pair goes), then `∪ ins, distinct` only when there
    * are inserts — so the table stays a multiset while the inserts are
    * empty, and an edge both deleted and inserted stays live. Both delta
    * paths build their live table here; the driver path passes `live`
    * already filtered by its deletes' [[DriverSet.pairAbsent]] probe.
    */
  private def nextLive(live: DataFrame, del: Option[DataFrame],
      ins: Option[DataFrame]): DataFrame = {
    val kept = del.fold(live)(live.join(_, Seq("src", "dst"), "left_anti"))
    ins.fold(kept)(kept.unionByName(_).distinct())
  }

  /** The distributed fold of [[ccApplyDelta]], for deltas above the driver
    * bound (tests call it directly to pin it on small deltas):
    * 1. live′ = live ∖ deletes (one left-anti join);
    * 2. touched = the components of the deleted edges' endpoints (≤
    *    2·|deletes| component ids);
    * 3. CC re-runs ONLY on live′ edges inside touched components (one
    *    semi join carves the subgraph);
    * 4. untouched labels pass through; inserts then fold via
    *    [[ccApplyBatch]].
    * Seven cuts: the deletes, live′, touched, the recolour CC's edge cut,
    * labels′, live and the insert fold's table.
    */
  private[graft] def ccApplyDeltaDistributed(
      s: org.apache.spark.sql.SparkSession, labels: DataFrame,
      liveEdges: DataFrame, inserts: DataFrame, deletes: DataFrame)
      : (DataFrame, DataFrame) = {
    val (del, delRows) = graft.ops.Checkpoints.cutCounted(
      deletes.select(col("src").cast("long"), col("dst").cast("long"))
        .distinct())
    // adaptive hint (the bfsDepthsDF discipline): the delete batch and
    // everything derived from it (endpoints, touched component ids) are
    // batch-sized — broadcast them against the accumulated tables when
    // small instead of letting the stats-less checkpointed frames fall
    // back to shuffle joins of the full state.
    def hint(df: DataFrame): DataFrame =
      if (delRows <= graft.ops.Graphs.FrontierBroadcastRows) broadcast(df)
      else df
    val (liveDel, labels1) = if (delRows == 0L) (liveEdges, labels) else {
      val liveD = nextLive(liveEdges, Some(hint(del)), None)
        .transform(graft.ops.Checkpoints.cut)
      val delVerts = del.select(col("src").as("id"))
        .unionAll(del.select(col("dst").as("id"))).distinct()
      val touched = labels.join(hint(delVerts), Seq("id"), "left_semi")
        .select("component").distinct()
        .transform(graft.ops.Checkpoints.cut) // read 3×: carve+anti+CC
      val subVerts = labels.join(hint(touched), Seq("component"),
        "left_semi")
      val sub = liveD.join(subVerts.select(col("id").as("src")),
        Seq("src"), "left_semi")
      val recolored = graft.ops.Graphs.connectedComponentsDF(s, sub)
        .select(col("id"), col("component"))
      (liveD, foldUnion(labels,
          labels.join(hint(touched), Seq("component"), "left_anti")
            .select(col("id"), col("component")),
          recolored)
        .transform(graft.ops.Checkpoints.cut))
    }
    val ins = inserts.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
    val live = if (ins.isEmpty) liveDel
      else nextLive(liveDel, None, Some(ins))
        .transform(graft.ops.Checkpoints.cut)
    (ccApplyBatch(s, labels1, ins), live)
  }

  /** S45 maintained state: the live corpus's LSH substrate (docs,
    * MinHash signatures, band table) + the surviving near-dup edge set
    * + the incremental CC cluster labels. docs is (doc_id, text);
    * everything else is derived and carried so no fold ever re-scans
    * the corpus. In the persisted-index composition (StreamingSpec),
    * sigs/bands are VIEWS of the SimIndex `_sigs`/`_bands` tables —
    * the fold never cares where the substrate lives.
    */
  case class NearDupState(labels: DataFrame, edges: DataFrame,
      docs: DataFrame, sigs: DataFrame, bands: DataFrame)

  /** The (doc_id, text, n_chars) frame the shingle kernel expects —
    * n_chars derived from the text when the caller's frame doesn't
    * carry it (synthetic fixtures, raw intake streams).
    */
  private def nearDupDocs(df: DataFrame): DataFrame =
    if (df.columns.contains("n_chars"))
      df.select(col("doc_id").cast("long").as("doc_id"), col("text"),
        col("n_chars").cast("long").as("n_chars"))
    else df.select(col("doc_id").cast("long").as("doc_id"), col("text"),
      length(col("text")).cast("long").as("n_chars"))

  /** Empty [[NearDupState]] with the right schemas: the real pipeline
    * run over zero rows (plans only — nothing executes).
    */
  def nearDupInit(docsProto: DataFrame, shingleLen: Int,
      numHashes: Int, bands: Int): NearDupState = {
    val d = nearDupDocs(docsProto).limit(0)
    val sigs = graft.ops.Similarity.minHashSignatures(
      graft.ops.Text.shingles(d, shingleLen), numHashes)
    NearDupState(
      labels = d.select(col("doc_id").as("id"),
        col("doc_id").as("component")),
      edges = d.select(col("doc_id").as("src"), col("doc_id").as("dst")),
      docs = d, sigs = sigs,
      bands = graft.ops.Similarity.minHashBands(sigs, numHashes, bands))
  }

  /** New-vs-live candidate pairs for one batch, sharing the capped
    * hot-bucket discipline of Similarity.bandedCandidates: per
    * (band, band_sig) bucket, all new-vs-old + new-vs-new pairs while
    * the bucket total stays at or under `maxBucket`; past the cap each
    * new member pairs only with the bucket's minimum id (plus one
    * bridge edge from a new minimum to the old one), so a hot bucket
    * costs O(new members) rows per batch and the bucket's candidate
    * graph stays CONNECTED across batches — every earlier member was
    * linked to the then-hub when it arrived, and hubs chain to the
    * current minimum. `maxBucket = 0` keeps exact all-pairs: a pair is
    * then discovered exactly once (in the batch its later endpoint
    * arrives — band signatures never change), so the union over
    * batches IS the one-shot candidate set.
    */
  private def newVsLiveCandidates(liveBands: DataFrame,
      freshBands: DataFrame, maxBucket: Int): DataFrame = {
    def canon(x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =
      Seq(least(x, y).as("a_id"), greatest(x, y).as("b_id"))
    val live2 = liveBands.select(col("doc_id").as("o_id"), col("band"),
      col("band_sig"))
    val fresh2 = freshBands.select(col("doc_id").as("o_id"), col("band"),
      col("band_sig"))
    if (maxBucket <= 0) {
      val newOld = freshBands.join(live2, Seq("band", "band_sig"))
        .filter(col("doc_id") =!= col("o_id"))
        .select(canon(col("doc_id"), col("o_id")): _*)
      val newNew = freshBands.join(fresh2, Seq("band", "band_sig"))
        .filter(col("doc_id") < col("o_id"))
        .select(col("doc_id").as("a_id"), col("o_id").as("b_id"))
      newOld.unionAll(newNew).distinct()
    } else {
      // per-bucket occupancy on both sides: the live side's groupBy
      // runs over the maintained band table — Exchange-free when that
      // table is the persisted index (bucketed on the key)
      val stats = freshBands.groupBy("band", "band_sig")
        .agg(count(lit(1)).as("n_new"), min("doc_id").as("min_new"))
        .join(liveBands.groupBy("band", "band_sig")
            .agg(count(lit(1)).as("n_old"), min("doc_id").as("min_old")),
          Seq("band", "band_sig"), "left")
        .select(col("band"), col("band_sig"), col("n_new"), col("min_new"),
          coalesce(col("n_old"), lit(0L)).as("n_old"), col("min_old"))
      val sized = freshBands.join(stats, Seq("band", "band_sig"))
      val hotKeys = stats.filter(col("n_old") + col("n_new") > maxBucket)
      val smallNew = sized.filter(col("n_old") + col("n_new") <= maxBucket)
      val newOld = smallNew
        .join(live2.join(hotKeys.select("band", "band_sig"),
          Seq("band", "band_sig"), "left_anti"), Seq("band", "band_sig"))
        .filter(col("doc_id") =!= col("o_id"))
        .select(canon(col("doc_id"), col("o_id")): _*)
      val newNew = smallNew.join(fresh2, Seq("band", "band_sig"))
        .filter(col("doc_id") < col("o_id"))
        .select(col("doc_id").as("a_id"), col("o_id").as("b_id"))
      val hot = sized.filter(col("n_old") + col("n_new") > maxBucket)
        .withColumn("hub",
          least(col("min_new"), coalesce(col("min_old"), col("min_new"))))
      val star = hot.filter(col("doc_id") =!= col("hub"))
        .select(canon(col("hub"), col("doc_id")): _*)
      val bridge = hotKeys
        .filter(col("n_old") > 0 && col("min_new") < col("min_old"))
        .select(col("min_new").as("a_id"), col("min_old").as("b_id"))
      newOld.unionAll(newNew).unionAll(star).unionAll(bridge).distinct()
    }
  }

  /** S45 — maintained near-dup CLUSTERS: the dedup-service read a
    * 100 TB training pipeline actually runs — cluster labels that
    * update as documents arrive, instead of the batch rebuild
    * (l02g/l02i). Fold one micro-batch of documents into the state in
    * four bounded steps:
    *
    * 1. genuinely NEW docs (anti-join on doc_id — at-least-once
    *    replays drop out, so re-delivering a batch is a no-op) are
    *    shingled, MinHash-signed and banded: O(batch) text work, the
    *    only scan of the new documents;
    * 2. candidates are new-vs-live + new-vs-new pairs sharing a band
    *    bucket, hot buckets capped ([[newVsLiveCandidates]]);
    * 3. candidates are estimate-prefiltered on the maintained
    *    signatures, then exactly re-checked (n-gram Jaccard) against
    *    shingles recomputed for the PAIR ENDPOINTS only — bounded by
    *    candidate volume, never corpus volume;
    * 4. surviving edges fold into the maintained labels through the
    *    batch-sized quotient-graph CC merge ([[ccApplyBatch]]).
    *
    * Uncapped, the maintained edge set equals the one-shot surviving
    * pair set over the accumulated corpus EXACTLY (candidate discovery
    * is pairwise time-invariant, and so is the exact re-check), so the
    * maintained labels equal the one-shot clusters after EVERY batch —
    * the s40/s43 discipline, gated in StreamingSpec. Capped, the
    * maintained clusters carry the bandedCandidates capped contract:
    * candidate-graph components identical to uncapped, post-filter a
    * refinement, and EXACT label equality on boilerplate-clique
    * families (the shape that creates hot buckets at 100 TB) — gated
    * on a clique fixture in StreamingSpec.
    */
  def nearDupApplyBatch(s: org.apache.spark.sql.SparkSession,
      st: NearDupState, batch: DataFrame, shingleLen: Int, numHashes: Int,
      bands: Int, estMin: Double, jacMin: Double, maxBucket: Int)
      : NearDupState = {
    val (st2, edges) = nearDupBatchDelta(st, batch, shingleLen, numHashes,
      bands, estMin, jacMin, maxBucket)
    if (edges == null) st
    else st2.copy(labels = ccApplyBatch(s, st.labels, edges))
  }

  /** The substrate-and-edges half of [[nearDupApplyBatch]]: folds the
    * batch into the maintained text substrate and returns the batch's
    * surviving NEW edges WITHOUT touching the labels — the piece the
    * ensemble fold (s48) composes with the vector side's delta before
    * folding ONE shared label table. Returns (st, null) when the batch
    * carries nothing new.
    */
  def nearDupBatchDelta(
      st: NearDupState, batch: DataFrame, shingleLen: Int, numHashes: Int,
      bands: Int, estMin: Double, jacMin: Double, maxBucket: Int)
      : (NearDupState, DataFrame) = {
    import graft.ops.{Checkpoints, Similarity, Text}
    val (fresh, freshRows) = Checkpoints.cutCounted(
      nearDupDocs(batch).distinct()
        .join(st.docs.select("doc_id"), Seq("doc_id"), "left_anti"))
    if (freshRows == 0L) return (st, null)
    // distinct() above collapses exact intra-batch replays of a row;
    // what survives with a repeated doc_id is CONFLICTING content for
    // one id in one batch — shingling would silently union both texts
    // into a corrupt merged document (wrong signature, wrong clusters,
    // forever). Fail loudly instead, the requireUniqueIds discipline
    // the persisted-index path already applies at write.
    val dup = fresh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"nearDupApplyBatch: batch carries conflicting texts for doc_id " +
        s"${dup.head.getLong(0)} — one content per id per batch")
    val freshSigs = Similarity.minHashSignatures(
        Text.shingles(fresh, shingleLen), numHashes)
      .transform(Checkpoints.cut)
    val freshBands = Similarity.minHashBands(freshSigs, numHashes, bands)
      .transform(Checkpoints.cut)
    val cands = newVsLiveCandidates(st.bands, freshBands, maxBucket)
    val sigsAll = st.sigs.unionByName(freshSigs)
    val likely = Similarity.estimateJaccard(cands, sigsAll)
      .filter(col("est_jaccard") >= estMin)
      .select("a_id", "b_id")
      .transform(Checkpoints.cut)
    val endpoints = likely.select(col("a_id").as("doc_id"))
      .unionAll(likely.select(col("b_id").as("doc_id"))).distinct()
    val checkDocs = st.docs.unionByName(fresh)
      .join(endpoints, Seq("doc_id"), "left_semi")
    val edges = Similarity.exactJaccardCompact(
        Text.shingles(checkDocs, shingleLen), likely)
      .filter(col("jaccard") > jacMin)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .transform(Checkpoints.cut)
    (NearDupState(
      labels = st.labels,
      edges = st.edges.unionByName(edges).transform(Checkpoints.cut),
      docs = st.docs.unionByName(fresh).transform(Checkpoints.cut),
      sigs = sigsAll.transform(Checkpoints.cut),
      bands = st.bands.unionByName(freshBands).transform(Checkpoints.cut)),
      edges)
  }

  /** S45 retraction: erase `delDocs` (by doc_id) from the maintained
    * near-dup state — GDPR/opt-out mid-stream. Substrate rows anti-join
    * away; incident edges delete through [[ccApplyDelta]]'s bounded
    * decremental fold (only the touched components re-color; the erased
    * doc and any partner left edge-less drop out of the labels, exactly
    * as a from-scratch run over the survivors would drop them). The
    * surviving edge set IS the one-shot pair set over the surviving
    * corpus (every re-check was pairwise, so pairs not involving the
    * deleted doc are untouched) — maintained labels == one-shot
    * clusters on survivors, gated in StreamingSpec; replaying the same
    * delete is a natural no-op.
    */
  def nearDupApplyDelete(s: org.apache.spark.sql.SparkSession,
      st: NearDupState, delDocs: DataFrame): NearDupState = {
    import graft.ops.Checkpoints
    // adaptive hint (the ccApplyDelta discipline): the delete-id probe
    // is batch-sized while st.edges is the accumulated, stats-less
    // checkpointed edge set — broadcast the probe so neither incident
    // scan reshuffles the full edge set
    val (ids, idRows) = Checkpoints.cutCounted(
      delDocs.select(col("doc_id").cast("long").as("doc_id")).distinct())
    def hint(df: DataFrame): DataFrame =
      if (idRows <= graft.ops.Graphs.FrontierBroadcastRows) broadcast(df)
      else df
    // a USING-column semi join puts the join key FIRST in the output —
    // select (src, dst) back explicitly before the union or the
    // dst-side branch's rows arrive flipped
    val delEdges = st.edges
      .join(hint(ids.select(col("doc_id").as("src"))), Seq("src"),
        "left_semi")
      .select("src", "dst")
      .unionByName(st.edges
        .join(hint(ids.select(col("doc_id").as("dst"))), Seq("dst"),
          "left_semi")
        .select("src", "dst"))
      .distinct()
    val (labels, live) = ccApplyDelta(s, st.labels, st.edges,
      st.edges.limit(0), delEdges)
    NearDupState(labels, live,
      docs = st.docs.join(ids, Seq("doc_id"), "left_anti")
        .transform(Checkpoints.cut),
      sigs = st.sigs.join(ids, Seq("doc_id"), "left_anti")
        .transform(Checkpoints.cut),
      bands = st.bands.join(ids, Seq("doc_id"), "left_anti")
        .transform(Checkpoints.cut))
  }

  /** S47 maintained state: cluster labels + the surviving semantic edge
    * set + the SEEN id set. Unlike s45 (whose text substrate lives in
    * the state), the vector substrate lives in the PERSISTED IVF index
    * at the caller's prefix — the fold reads and appends the same
    * tables every other index consumer uses. The seen set is IN-STATE
    * (not derived from the index) so it advances atomically with the
    * edge fold: an at-least-once retry after a crash between the index
    * append and the fold still folds the batch's edges (the append side
    * skips idempotently on its own index-derived check). Erased ids
    * stay in `seen` — a deleted vector never silently re-enters.
    */
  case class VecDupState(labels: DataFrame, edges: DataFrame,
      seen: DataFrame)

  /** Empty [[VecDupState]]. */
  def vecDupInit(s: org.apache.spark.sql.SparkSession): VecDupState = {
    import s.implicits._
    val labels = Seq.empty[(Long, Long)].toDF("id", "component")
    VecDupState(labels, Seq.empty[(Long, Long)].toDF("src", "dst"),
      Seq.empty[Long].toDF("vec_id"))
  }

  /** S47 — maintained SEMANTIC near-dup clusters THROUGH the persisted
    * IVF index: the vector-side sibling of s45, with the index AS the
    * substrate. Fold one micro-batch of (vec_id, embedding) rows:
    *
    * 1. genuinely NEW ids (anti-join on [[graft.ops.SimIndex.ivfSeenIds]]
    *    — at-least-once replays drop out, and an ERASED id stays erased
    *    until a vacuum physically clears it);
    * 2. the first batch BUILDS the index (writeIvfIndex — centroids are
    *    trained on the bootstrap batch and stay FIXED; the s42
    *    drift-triggered rebuild is the recalibration path), every later
    *    batch APPENDS (same centroids, deterministic assignment);
    * 3. the batch's new within-bucket cosine pairs come from
    *    [[graft.ops.SimIndex.ivfPairsForIds]] — the incremental slice
    *    of ivfPairsFromIndex, discovered exactly once across batches
    *    because assignment is time-invariant under fixed centroids;
    * 4. pairs above `threshold` fold into the labels through the
    *    quotient-graph CC merge ([[ccApplyBatch]]).
    *
    * After every fold the maintained labels equal the one-shot clusters
    * over the index's OWN pair set (`ivfPairsFromIndex` filtered at the
    * same threshold) — gated per batch in SimIndexSpec through a real
    * foreachBatch. Micro-batches run in cloned sessions, so the fold
    * re-lists the index tables up front (refreshIndex — the s45
    * operational lesson).
    */
  def vecDupApplyBatch(s: org.apache.spark.sql.SparkSession,
      st: VecDupState, batch: DataFrame, prefix: String, threshold: Double,
      k: Int, nprobe: Int, buckets: Int): VecDupState = {
    val (st2, edges) = vecDupBatchDelta(s, st, batch, prefix, threshold,
      k, nprobe, buckets)
    if (edges == null) st
    else st2.copy(labels = ccApplyBatch(s, st.labels, edges))
  }

  /** The index-and-edges half of [[vecDupApplyBatch]]: appends the
    * batch to the persisted IVF index, advances the seen set, and
    * returns the batch's new above-threshold pairs WITHOUT touching
    * the labels — the vector-side piece the ensemble fold (s48)
    * composes. Returns (st, null) when the batch carries nothing new.
    */
  def vecDupBatchDelta(s: org.apache.spark.sql.SparkSession,
      st: VecDupState, batch: DataFrame, prefix: String, threshold: Double,
      k: Int, nprobe: Int, buckets: Int): (VecDupState, DataFrame) = {
    import graft.ops.{Checkpoints, SimIndex}
    val exists = SimIndex.hasIvfIndex(s, prefix)
    if (exists) SimIndex.refreshIndex(s, prefix)
    // distinct() collapses exact intra-batch replays of a row; the
    // seen-set gate is the IN-STATE one, so it advances atomically with
    // the edge fold below (an index-derived gate would silently drop a
    // batch's edges when a retry lands after the append but before the
    // fold — review r19)
    val rows = batch.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding")).distinct()
    val (fresh, freshRows) = Checkpoints.cutCounted(
      rows.join(st.seen, Seq("vec_id"), "left_anti"))
    if (freshRows == 0L) return (st, null)
    // what survives with a repeated vec_id is CONFLICTING content for
    // one id in one batch — fail loudly (the s45/requireUniqueIds
    // discipline) before anything touches the index
    val dup = fresh.groupBy("vec_id").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1).limit(1).collect()
    if (dup.nonEmpty) throw new IllegalArgumentException(
      s"vecDupApplyBatch: batch carries conflicting embeddings for " +
        s"vec_id ${dup.head.getLong(0)} — one content per id per batch")
    // index side FIRST, idempotent on its own index-derived check: a
    // crash between here and the fold leaves st untouched, and the
    // retry skips the re-append but still folds (fresh is driven by
    // st.seen, which only advances WITH the fold)
    if (exists) {
      val toIndex = fresh.join(SimIndex.ivfSeenIds(s, prefix),
        Seq("vec_id"), "left_anti")
      if (!toIndex.isEmpty) SimIndex.appendIvfIndex(toIndex, prefix)
    } else SimIndex.writeIvfIndex(fresh, prefix, k, nprobe, buckets)
    SimIndex.refreshIndex(s, prefix) // observe the append we just wrote
    val edges = SimIndex.ivfPairsForIds(s, prefix, fresh.select("vec_id"))
      .filter(col("cos_sim") > threshold)
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .transform(Checkpoints.cut)
    (VecDupState(st.labels,
      st.edges.unionByName(edges).transform(Checkpoints.cut),
      st.seen.unionByName(fresh.select("vec_id"))
        .transform(Checkpoints.cut)),
      edges)
  }

  /** S47 retraction: erase vector row images from the maintained
    * clusters — [[graft.ops.SimIndex.deleteFromIvfIndex]] tombstones the
    * index side (replay-idempotent, O(batch)), incident edges delete
    * through [[ccApplyDelta]]'s bounded decremental re-color. The
    * surviving edge set IS the one-shot pair set over the surviving
    * index read (ivfPairsFromIndex anti-joins the same tombstones), so
    * maintained labels == one-shot clusters on survivors — the s45b
    * contract on the vector side. `delVecs` carries (vec_id, embedding)
    * row images (the delete convention: the signature retraction needs
    * the content it retracts).
    */
  def vecDupApplyDelete(s: org.apache.spark.sql.SparkSession,
      st: VecDupState, delVecs: DataFrame, prefix: String): VecDupState = {
    import graft.ops.{Checkpoints, SimIndex}
    SimIndex.refreshIndex(s, prefix)
    SimIndex.deleteFromIvfIndex(delVecs, prefix)
    SimIndex.refreshIndex(s, prefix)
    // adaptive hint (the ccApplyDelta discipline): the delete-id probe
    // is batch-sized while st.edges is the accumulated, stats-less
    // checkpointed edge set — broadcast the probe so neither incident
    // scan reshuffles the full edge set
    val (ids, idRows) = Checkpoints.cutCounted(
      delVecs.select(col("vec_id").cast("long").as("vec_id")).distinct())
    def hint(df: DataFrame): DataFrame =
      if (idRows <= graft.ops.Graphs.FrontierBroadcastRows) broadcast(df)
      else df
    val delEdges = st.edges
      .join(hint(ids.select(col("vec_id").as("src"))), Seq("src"),
        "left_semi")
      .select("src", "dst")
      .unionByName(st.edges
        .join(hint(ids.select(col("vec_id").as("dst"))), Seq("dst"),
          "left_semi")
        .select("src", "dst"))
      .distinct()
    val (labels, live) = ccApplyDelta(s, st.labels, st.edges,
      st.edges.limit(0), delEdges)
    // erased ids REMAIN in `seen`: a deleted vector must not silently
    // re-enter through a later batch
    VecDupState(labels, live, st.seen)
  }

  /** S48 maintained state — the LIVE ENSEMBLE (the streaming l61): the
    * text substrate (s45's, labels unused), the vector seen-set (s47's,
    * labels unused; the vector substrate itself is the persisted IVF
    * index), and ONE shared (labels, edges) pair that both signals fold
    * into. `edges` is a per-signal multiset: the same (src, dst) pair
    * discovered by BOTH signals carries one row each (bounded ×2) —
    * harmless to the CC fold and to delete semi-joins, and it preserves
    * each signal's exactly-once discovery argument untouched.
    */
  case class EnsembleState(text: NearDupState, vec: VecDupState,
      labels: DataFrame, edges: DataFrame)

  /** Empty [[EnsembleState]]. */
  def ensembleInit(s: org.apache.spark.sql.SparkSession,
      docsProto: DataFrame, shingleLen: Int, numHashes: Int,
      bands: Int): EnsembleState = {
    val t = nearDupInit(docsProto, shingleLen, numHashes, bands)
    val v = vecDupInit(s)
    EnsembleState(t, v, v.labels, v.edges)
  }

  /** S48 — maintained ENSEMBLE dedup clusters: l61's multi-signal
    * fusion as a CONTINUOUS query — the live view an actual curation
    * service keeps, where a paraphrase merges via its embedding and a
    * verbatim copy with a degenerate embedding merges via its text, as
    * documents and their embeddings ARRIVE. One micro-batch carries a
    * doc slice and a vector slice over the shared id space; the two
    * signal deltas run their own substrate folds ([[nearDupBatchDelta]]
    * / [[vecDupBatchDelta]] — each keeps its exactly-once discovery
    * contract), and their new edges fold TOGETHER into the one shared
    * label table through a single quotient-CC merge. Because CC is
    * confluent, folding the union per batch equals clustering the union
    * of the two one-shot pair sets — maintained labels == CC(one-shot
    * text pairs over the ingested corpus ∪ the index's one-shot pair
    * set) after EVERY batch, gated in StreamingSpec (uncapped text side
    * == the l02b pipeline's pair set; the capped registry shape carries
    * s45's refinement contract instead).
    */
  def ensembleApplyBatch(s: org.apache.spark.sql.SparkSession,
      st: EnsembleState, docsBatch: DataFrame, vecsBatch: DataFrame,
      shingleLen: Int, numHashes: Int, bands: Int, estMin: Double,
      jacMin: Double, maxBucket: Int, prefix: String, threshold: Double,
      k: Int, nprobe: Int, buckets: Int): EnsembleState = {
    import graft.ops.Checkpoints
    val (t2, te) = nearDupBatchDelta(st.text, docsBatch, shingleLen,
      numHashes, bands, estMin, jacMin, maxBucket)
    val (v2, ve) = vecDupBatchDelta(s, st.vec, vecsBatch, prefix,
      threshold, k, nprobe, buckets)
    val delta = Seq(Option(te), Option(ve)).flatten
    if (delta.isEmpty) return EnsembleState(t2, v2, st.labels, st.edges)
    val edges = delta.reduce(_ unionByName _)
    EnsembleState(t2, v2,
      ccApplyBatch(s, st.labels, edges),
      st.edges.unionByName(edges).transform(Checkpoints.cut))
  }

  /** S48 retraction: erase an entity from BOTH signals mid-stream —
    * `delDocs` (doc_id) leaves the text substrate by anti-join,
    * `delVecs` (vec_id, embedding row images) tombstone the IVF index,
    * and every shared edge incident to EITHER id set deletes through
    * [[ccApplyDelta]]'s bounded re-color on the ONE shared label table.
    * Erased vec ids stay in the vector seen-set (never silently
    * re-enter); maintained labels == the one-shot ensemble on the
    * survivors (each signal's surviving pair set is its one-shot over
    * the surviving substrate — the s45b/s47b arguments compose because
    * the shared fold only ever unions their edge sets).
    */
  def ensembleApplyDelete(s: org.apache.spark.sql.SparkSession,
      st: EnsembleState, delDocs: DataFrame, delVecs: DataFrame,
      prefix: String): EnsembleState = {
    import graft.ops.{Checkpoints, SimIndex}
    SimIndex.refreshIndex(s, prefix)
    SimIndex.deleteFromIvfIndex(delVecs, prefix)
    SimIndex.refreshIndex(s, prefix)
    val dIds = delDocs.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().transform(Checkpoints.cut)
    val text = st.text.copy(
      docs = st.text.docs.join(dIds, Seq("doc_id"), "left_anti")
        .transform(Checkpoints.cut),
      sigs = st.text.sigs.join(dIds, Seq("doc_id"), "left_anti")
        .transform(Checkpoints.cut),
      bands = st.text.bands.join(dIds, Seq("doc_id"), "left_anti")
        .transform(Checkpoints.cut))
    val (ids, idRows) = Checkpoints.cutCounted(
      dIds.select(col("doc_id").as("id"))
        .unionByName(delVecs.select(col("vec_id").cast("long").as("id")))
        .distinct())
    def hint(df: DataFrame): DataFrame =
      if (idRows <= graft.ops.Graphs.FrontierBroadcastRows) broadcast(df)
      else df
    val delEdges = st.edges
      .join(hint(ids.select(col("id").as("src"))), Seq("src"), "left_semi")
      .select("src", "dst")
      .unionByName(st.edges
        .join(hint(ids.select(col("id").as("dst"))), Seq("dst"),
          "left_semi")
        .select("src", "dst"))
      .distinct()
    val (labels, live) = ccApplyDelta(s, st.labels, st.edges,
      st.edges.limit(0), delEdges)
    EnsembleState(text, st.vec, labels, live)
  }

  /** S46 maintained state: the live canonical `(x < y)` edge set + the
    * per-vertex triangle counts over it. The edge set is the graph the
    * pipeline already ingests (the s27b precedent: exact deletes need
    * it); the counts table is the maintained read.
    */
  case class TriState(edges: DataFrame, counts: DataFrame)

  /** Empty [[TriState]] with the right schemas. */
  def triInit(edgesProto: DataFrame): TriState = {
    val e = edgesProto.select(col("x").cast("long").as("x"),
      col("y").cast("long").as("y")).limit(0)
    TriState(e, e.select(col("x").as("id"),
      col("x").as("n_triangles")).limit(0))
  }

  /** Triangles of `all` (canonical pairs, x < y) that contain at least
    * one `touch` edge, each triple emitted EXACTLY ONCE as sorted
    * (a < b < c). Every such triangle (u,v,w) with touch edge (u,v) has
    * w adjacent to u, so one wedge expansion around each touch edge's
    * endpoints + one closure semi-join enumerates them all; a triangle
    * with 2–3 touch edges is found several times and the sorted-triple
    * distinct collapses it. Cost is Σ deg(endpoint) over the touch
    * batch — batch-incident wedges, never corpus triangles. At heavy
    * skew the expansion wants the degree-ordered orientation (the g27
    * note); the contract fixtures don't need it.
    */
  private def touchedTriangles(all: DataFrame, touch: DataFrame,
      touchRows: Long): DataFrame = {
    // adaptive hint (the ccApplyDelta discipline): the touch batch is
    // batch-sized while `all` is the accumulated corpus — broadcast the
    // small side so the wedge expansion streams the adjacency instead
    // of reshuffling it (the checkpoint-cut state has no stats to let
    // the planner see this on its own)
    def hint(df: DataFrame): DataFrame =
      if (touchRows <= graft.ops.Graphs.FrontierBroadcastRows) broadcast(df)
      else df
    val adj = all.select(col("x").as("s"), col("y").as("t"))
      .unionAll(all.select(col("y").as("s"), col("x").as("t")))
    val cand = hint(touch).join(adj, col("x") === col("s"))
      .filter(col("t") =!= col("y"))
      .select(col("x"), col("y"), col("t").as("w"),
        least(col("y"), col("w")).as("cx"),
        greatest(col("y"), col("w")).as("cy"))
    // closure: (cx, cy) matches at most one row of the pair SET, so the
    // equi inner join keeps exactly the closed wedges (and AQE can pick
    // the build side from the runtime size of the wedge expansion)
    val closed = cand.join(
      all.select(col("x").as("cx"), col("y").as("cy")), Seq("cx", "cy"))
    closed.select(
        least(col("x"), col("w")).as("a"),
        (col("x") + col("y") + col("w") - least(col("x"), col("w"))
          - greatest(col("y"), col("w"))).as("b"),
        greatest(col("y"), col("w")).as("c"))
      .distinct()
  }

  /** Per-vertex count delta from a sorted-triple triangle set: each
    * triangle credits its three corners once.
    */
  private def triCorners(tri: DataFrame): DataFrame =
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("d"))

  /** S46 — maintained per-vertex TRIANGLE COUNTS: g27's cohesion kernel
    * kept live as edges arrive and retract — the local-clustering /
    * spam-cohort read a continuously-ingested graph serves without
    * batch rebuilds. Fold one micro-batch of canonical-pair inserts and
    * deletes into the state in three bounded steps:
    *
    * 1. deletes are dropped from the live edge set; the triangles LOST
    *    are exactly those of the PRE-delete graph containing a deleted
    *    edge ([[touchedTriangles]] — sorted-triple distinct, so a
    *    triangle losing 2–3 edges at once is subtracted once);
    * 2. genuinely new edges (anti-join — at-least-once replays drop
    *    out, so re-delivering a batch is a no-op) join the survivor
    *    set; the triangles GAINED are exactly those of the POST-insert
    *    graph containing a fresh edge — a triangle needs its last
    *    arriving edge to close, and that edge is fresh, so discovery is
    *    exactly-once across batches even uncapped;
    * 3. both corner deltas merge into the maintained counts (full-outer
    *    sum; vertices reaching zero drop out, exactly as the one-shot
    *    kernel omits triangle-less vertices).
    *
    * Each step's work is batch-incident (wedges around the batch's
    * endpoints), never corpus-sized. A batch deleting and re-inserting
    * the same edge nets to a no-op (deletes fold first, inserts close
    * the triangles back). After every fold the maintained counts equal
    * [[graft.ops.Graphs.trianglesPerVertex]] over the live edge set —
    * gated per batch in StreamingSpec on hand fixtures and held to the
    * one-shot DuckDB triangle SQL in the s46/s46b registry entries.
    */
  def triApplyDelta(st: TriState, inserts: DataFrame, deletes: DataFrame)
      : TriState = {
    import graft.ops.Checkpoints
    def canon(df: DataFrame): DataFrame =
      df.select(col("x").cast("long").as("x"), col("y").cast("long").as("y"))
        .filter(col("x") < col("y")).distinct()
    val (del, delRows) = Checkpoints.cutCounted(
      canon(deletes).join(st.edges, Seq("x", "y"), "left_semi"))
    val (kept, lost) = if (delRows == 0L) (st.edges, None) else (
      st.edges.join(del, Seq("x", "y"), "left_anti")
        .transform(Checkpoints.cut),
      Some(triCorners(touchedTriangles(st.edges, del, delRows))
        .select(col("id"), (-col("d")).as("d"))))
    val (fresh, freshRows) = Checkpoints.cutCounted(
      canon(inserts).join(kept, Seq("x", "y"), "left_anti"))
    if (delRows == 0L && freshRows == 0L) return st
    val edges = if (freshRows == 0L) kept
      else kept.unionByName(fresh).transform(Checkpoints.cut)
    val gained = if (freshRows == 0L) None
      else Some(triCorners(touchedTriangles(edges, fresh, freshRows)))
    val counts = (st.counts.select(col("id"), col("n_triangles").as("d"))
        +: (lost.toSeq ++ gained.toSeq))
      .reduce(_ unionByName _)
      .groupBy("id").agg(sum("d").as("n_triangles"))
      .filter(col("n_triangles") > 0)
      .transform(Checkpoints.cut)
    TriState(edges, counts)
  }

  /** State-TTL probe rows (ROADMAP #12). */
  case class TtlIn(user_id: Long, n: Long)
  case class TtlOut(user_id: Long, ttl_total: Long, all_total: Long)

  /** ROADMAP #12 — processing-time state TTL, EXERCISED: a per-key
    * running counter kept twice in the same processor — once under
    * `TTLConfig(ttl)` and once under `TTLConfig.NONE` as the control.
    * After the TTL elapses with no traffic for a key, the TTL'd value is
    * ABSENT at the next read (the count restarts) while the control
    * value still carries — proving the expiry is the TTL's doing, not
    * state loss. This is the abandoned-entity story at 100 TB: without
    * TTL, per-key state grows with every entity ever seen (the #1
    * operational failure of stateful streaming); with it, cold keys'
    * state is reclaimed by the store itself, no janitor job.
    * StreamingSpec gates both directions with generous bounds (a long
    * TTL survives consecutive batches; a short TTL expires after a
    * sleep strictly past it).
    */
  class TtlCounterProcessor(ttl: java.time.Duration)
      extends StatefulProcessor[Long, TtlIn, TtlOut] {
    @transient private var ttlCnt: ValueState[Long] = _
    @transient private var allCnt: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      ttlCnt = getHandle.getValueState[Long]("ttl_cnt",
        Encoders.scalaLong, TTLConfig(ttl))
      allCnt = getHandle.getValueState[Long]("all_cnt",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[TtlIn],
        timerValues: TimerValues): Iterator[TtlOut] = {
      val add = rows.map(_.n).sum
      val t = (if (ttlCnt.exists()) ttlCnt.get() else 0L) + add
      val a = (if (allCnt.exists()) allCnt.get() else 0L) + add
      ttlCnt.update(t)
      allCnt.update(a)
      Iterator.single(TtlOut(key, t, a))
    }
  }

  /** [[TtlCounterProcessor]] entry — processing-time mode (TTL clocks
    * run on batch processing time, not event time).
    */
  def ttlCounterStream(in: Dataset[TtlIn], ttl: java.time.Duration)
      : Dataset[TtlOut] = {
    import in.sparkSession.implicits._
    in.groupByKey(_.user_id)
      .transformWithState(new TtlCounterProcessor(ttl),
        TimeMode.ProcessingTime(), OutputMode.Update())
  }

  /** S43 — incremental δ-RESTLESS REACHABILITY maintenance: fold one
    * micro-batch of temporal edges (src, dst, dep_us, arr_us) into the
    * maintained restless label table — continuous ingestion for the
    * g45 temporal-path read. State = (labels with their MINIMUM walk
    * depth, live edge set). Labels carry dmin because the hop bound
    * makes depth part of reachability: a new edge can both CREATE
    * labels and IMPROVE an existing label's depth, and an improvement
    * frees expansion budget that was previously exhausted — so the
    * fold is a delta iteration on the (dmin min-lattice):
    * 1. candidates = current labels × the NEW edges (δ-usable,
    *    depth + 1 ≤ maxHops) — new edges connecting existing labels;
    * 2. loop ≤ maxHops times: keep candidates that are new (id, arr)
    *    labels or strictly smaller dmin, merge (min), and expand the
    *    improved slice through ALL live edges — the cascade a new edge
    *    unlocks through edges that arrived long ago. Each cascade step
    *    increases depth by 1, so maxHops rounds provably drain it.
    * Replaying a batch is a natural no-op (set-union edges, min-merge
    * labels — both idempotent). The maintained (id, min arr) read
    * equals the one-shot [[graft.ops.Graphs.restlessEarliestArrival]]
    * REGARDLESS of edge arrival order (StreamingSpec: shuffled batches,
    * a cascade-unlocking last edge, replay; the s43 registry entry
    * holds 3 hash-split batches + a replay to g45's oracle).
    * Seeds are FIXED entry labels supplied up front (the caller's
    * anchor events) — the incremental contract, matching the TVF's
    * seeds-as-input surface.
    */
  def restlessApplyBatch(s: org.apache.spark.sql.SparkSession,
      labels: DataFrame, liveEdges: DataFrame, newEdges: DataFrame,
      deltaUs: Long, maxHops: Int): (DataFrame, DataFrame) = {
    val (eNew, eNewRows) = graft.ops.Checkpoints.cutCounted(
      newEdges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long")).distinct())
    val (live, liveRows) = graft.ops.Checkpoints.cutCounted(
      liveEdges.unionByName(eNew).distinct())
    // the label table's size is not known and not worth a job: it only
    // picks the broadcast side, so the batch is broadcast when it fits
    val cand = restlessExpand(labels, Long.MaxValue, eNew, eNewRows,
      deltaUs, maxHops)
    (restlessDrain(labels, cand, live, liveRows, deltaUs, maxHops), live)
  }

  /** One restless expansion step over the (dmin min-lattice) labels:
    * every under-budget label stepped through `through`'s δ-usable
    * edges, min-dmin per produced (id, arr_us). Adaptive broadcast (the
    * bfsDepthsDF discipline): checkpointed frames carry no stats, so
    * hint the smaller join side explicitly — batch-sized edge sets and
    * cascade slices are small next to the accumulated label table /
    * live edge list.
    */
  private def restlessExpand(from: DataFrame, fromRows: Long,
      through: DataFrame, throughRows: Long, deltaUs: Long,
      maxHops: Int): DataFrame = {
    val bcastRows = graft.ops.Graphs.FrontierBroadcastRows
    val f0 = from.filter(col("dmin") < maxHops)
      .select(col("id").as("f_id"), col("arr_us").as("f_arr"),
        col("dmin"))
    val (f, t) =
      if (fromRows <= throughRows && fromRows <= bcastRows)
        (broadcast(f0), through)
      else if (throughRows <= bcastRows) (f0, broadcast(through))
      else (f0, through)
    f.join(t, col("f_id") === col("src"))
      .filter(col("dep_us") >= col("f_arr") &&
        col("dep_us") <= col("f_arr") + deltaUs)
      .groupBy(col("dst").as("id"), col("arr_us"))
      .agg(min(col("dmin") + 1).as("dmin"))
  }

  /** Drain the restless cascade: merge candidates that are new labels
    * or strict dmin improvements, re-expand the improved slice through
    * ALL live edges, repeat until no improvement. Every cascade step
    * raises depth by 1 and depths are ≤ maxHops, so maxHops improvement
    * rounds provably drain it; going past that means a bug, and a WRONG
    * label table must not ship.
    */
  private def restlessDrain(labels: DataFrame, cand0: DataFrame,
      live: DataFrame, liveRows: Long, deltaUs: Long,
      maxHops: Int): DataFrame = {
    var lab = labels
    var cand = cand0
    var round = 0
    var more = true
    while (more) {
      round += 1
      if (round > maxHops) throw new IllegalStateException(
        s"restless cascade not drained after $maxHops rounds")
      val (improved, improvedRows) = graft.ops.Checkpoints.cutCounted(cand
        .join(lab.select(col("id"), col("arr_us"),
          col("dmin").as("d_old")), Seq("id", "arr_us"), "left_outer")
        .filter(col("d_old").isNull || col("dmin") < col("d_old"))
        .select(col("id"), col("arr_us"), col("dmin")))
      more = improvedRows > 0
      if (more) {
        lab = lab.unionByName(improved).groupBy("id", "arr_us")
          .agg(min("dmin").as("dmin"))
          .transform(graft.ops.Checkpoints.cut)
        cand = restlessExpand(improved, improvedRows, live, liveRows,
          deltaUs, maxHops)
      }
    }
    lab
  }

  /** S43b — restless maintenance with RETRACTIONS (r16 — the s27b
    * discipline lifted to the dmin lattice): fold one micro-batch of
    * temporal-edge INSERTS and DELETES into the maintained label table.
    * A temporal-edge delete (GDPR erasure of a shipment/event) must
    * invalidate every label whose supporting walk used the deleted
    * edge; the label's walk set is not stored, so the fold is bounded
    * INVALIDATE-AND-REFOLD:
    *
    * 1. TAINT — labels possibly supported by a deleted edge: each
    *    deleted edge's (dst, arr_us) label, propagated forward ≤
    *    maxHops rounds through the SURVIVING live edges (walk arrivals
    *    strictly increase, so the propagation is acyclic; chain steps
    *    through other deleted edges need no propagation — they are
    *    taint roots themselves). Over-taint is safe (the refold
    *    re-derives anything still reachable); under-taint is
    *    impossible — every invalid derivation chain passes through some
    *    deleted edge's dst label and is step-covered from there within
    *    the ≤ maxHops-step depth budget a real derivation has.
    * 2. DROP the tainted labels; re-union the caller's FIXED seed
    *    labels (seeds are given entry points, never derived — a taint
    *    landing on a seed must not erase it).
    * 3. REFOLD — expand ALL surviving labels once through the surviving
    *    live edges and drain the cascade. Survivors hold only
    *    fully-valid derivations (sound start below the fix point), and
    *    the seeds are present, so the drain's least fix point EQUALS
    *    the one-shot [[graft.ops.Graphs.restlessEarliestArrival]] label
    *    table on the surviving edge set — StreamingSpec pins a
    *    severed-only-path case and the s43b registry entry holds the
    *    fold to the g45 oracle over surviving edges.
    *
    * Inserts ride the existing delta fold (a delete-free batch takes
    * exactly the [[restlessApplyBatch]] path, so the insert-only s43
    * contract is untouched). Replaying a delete batch is idempotent:
    * the taint re-fires, the refold re-derives the same fix point.
    * Work scales with the taint's reach + one survivors × live-edge
    * expansion — not with history, and never a from-scratch multi-round
    * DP over the seeds.
    */
  def restlessApplyDelta(s: org.apache.spark.sql.SparkSession,
      labels: DataFrame, liveEdges: DataFrame, insEdges: DataFrame,
      delEdges: DataFrame, seeds: DataFrame, deltaUs: Long,
      maxHops: Int): (DataFrame, DataFrame) = {
    val (dels, delRows) = graft.ops.Checkpoints.cutCounted(
      delEdges.select(col("src").cast("long"), col("dst").cast("long"),
        col("dep_us").cast("long"), col("arr_us").cast("long")).distinct())
    if (delRows == 0L) {
      restlessApplyBatch(s, labels, liveEdges, insEdges, deltaUs, maxHops)
    } else {
      val bcastRows = graft.ops.Graphs.FrontierBroadcastRows
      val eNew = insEdges.select(col("src").cast("long"),
          col("dst").cast("long"), col("dep_us").cast("long"),
          col("arr_us").cast("long")).distinct()
      // Delete-then-insert, matching [[ccApplyDelta]]'s ordering: the
      // deletes apply to the PRE-batch live set only, then the batch's
      // inserts union in. An upsert-style CDC batch (delete + re-insert
      // of one temporal edge) therefore keeps the edge — the refold
      // re-derives its labels because the edge stays live. (The taint
      // still roots at the deleted edge's (dst, arr) label; over-taint
      // is safe, the refold restores anything still reachable.)
      val (live, liveRows) = graft.ops.Checkpoints.cutCounted(liveEdges
        .join(dels, Seq("src", "dst", "dep_us", "arr_us"), "left_anti")
        .unionByName(eNew).distinct())
      // 1. taint: roots at the deleted edges' (dst, arr) labels, then
      // the forward closure over existing labels through live edges
      val (roots, rootRows) = graft.ops.Checkpoints.cutCounted(labels
        .join(dels.select(col("dst").as("id"), col("arr_us")).distinct(),
          Seq("id", "arr_us"), "left_semi")
        .select("id", "arr_us"))
      var taint = roots
      var frontier = roots
      var frontierRows = rootRows
      var round = 0
      while (frontierRows > 0 && round < maxHops) {
        round += 1
        val f0 = frontier.select(col("id").as("f_id"),
          col("arr_us").as("f_arr"))
        val f = if (frontierRows <= bcastRows) broadcast(f0) else f0
        val stepped = f.join(live, col("f_id") === col("src"))
          .filter(col("dep_us") >= col("f_arr") &&
            col("dep_us") <= col("f_arr") + deltaUs)
          .select(col("dst").as("id"), col("arr_us")).distinct()
        val (next, nextRows) = graft.ops.Checkpoints.cutCounted(stepped
          .join(labels, Seq("id", "arr_us"), "left_semi")
          .join(taint, Seq("id", "arr_us"), "left_anti"))
        frontier = next
        frontierRows = nextRows
        if (frontierRows > 0)
          taint = taint.unionByName(frontier)
            .transform(graft.ops.Checkpoints.cut)
      }
      // 2. drop tainted, restore the fixed seeds
      val seedLab = seeds.select(col("id").cast("long"),
          col("arr_us").cast("long"))
        .withColumn("dmin", lit(1))
      val (survivors, survivorRows) = graft.ops.Checkpoints.cutCounted(
        labels.join(taint, Seq("id", "arr_us"), "left_anti")
          .unionByName(seedLab)
          .groupBy("id", "arr_us").agg(min("dmin").as("dmin")))
      // 3. refold from the survivors through the surviving edges
      val cand = restlessExpand(survivors, survivorRows, live, liveRows,
        deltaUs, maxHops)
      (restlessDrain(survivors, cand, live, liveRows, deltaUs, maxHops),
        live)
    }
  }

  /** S28 rows: per-user coalesced validity spans, maintained live. */
  case class HoldEv(user_id: Long, start_us: Long, end_us: Long)
  case class Span(start_us: Long, end_us: Long, n: Long)
  case class SpanOut(user_id: Long, start_us: Long, end_us: Long,
      n_intervals: Long)

  /** S28 — streaming interval coalescing: T19's maximal covered spans
    * maintained continuously — each arriving interval folds into the
    * per-entity span list (insert + merge sweep), with T19's exact
    * boundary rule (touching `end == next start` MERGES; only a strict
    * gap splits). The fold is a set union — associative and commutative
    * — so out-of-order arrival lands exactly: a late interval that
    * BRIDGES two spans collapses them (and sums their interval counts),
    * which no append-only form can express. State = the disjoint span
    * list per entity (bounded by the entity's coverage structure, not
    * its event count); Update-mode emission is the entity's current
    * span set, so one batch over the whole table IS t19.
    */
  class CoalesceProcessor
      extends StatefulProcessor[Long, HoldEv, SpanOut] {
    @transient private var spans: ListState[Span] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      spans = getHandle.getListState[Span]("spans",
        Encoders.product[Span], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[HoldEv],
        timerValues: TimerValues): Iterator[SpanOut] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[Span]
      spans.get().foreach(buf += _)
      rows.foreach(e => buf += Span(e.start_us, e.end_us, 1L))
      val merged = buf.sortBy(s => (s.start_us, s.end_us))
        .foldLeft(List.empty[Span]) { (acc, s) => acc match {
          case h :: t if s.start_us <= h.end_us =>
            Span(h.start_us, math.max(h.end_us, s.end_us), h.n + s.n) :: t
          case _ => s :: acc
        }}.reverse.toArray
      spans.put(merged)
      merged.iterator.map(sp =>
        SpanOut(key, sp.start_us, sp.end_us, sp.n))
    }
  }

  def coalesceSpans(holds: Dataset[HoldEv]): Dataset[SpanOut] = {
    import holds.sparkSession.implicits._
    holds.groupByKey(_.user_id)
      .transformWithState(new CoalesceProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** S13 — stream-stream interval join: each `view` event paired with the
    * same user's `purchase` events in the following 30 minutes
    * (attribution-window join). Both sides carry event-time watermarks and
    * the join condition bounds `purchase_ts` to `[view_ts, view_ts+30m]`,
    * which is exactly what Spark's symmetric-hash stream-stream join needs
    * to prove both state stores evictable in append mode: a view older
    * than watermark−30m and a purchase older than the watermark can never
    * match a future row. In batch the `EventTimeWatermark` nodes are
    * optimized away and the identical plan runs as a plain range join —
    * batch-equivalence is asserted in StreamingSpec and the batch twin is
    * hash-checked against DuckDB (s13).
    */
  def viewPurchaseJoin(views: DataFrame, purchases: DataFrame): DataFrame =
    viewPurchaseJoinImpl(views, purchases, "inner")

  /** S13b — LEFT OUTER variant of [[viewPurchaseJoin]]: a view with no
    * purchase in its 30-minute window emits once with null purchase
    * columns — in streaming, only after the watermark proves no future
    * purchase can match (state-eviction-driven null emission, the
    * semantics unique to watermarked outer stream-stream joins); in
    * batch, immediately. Batch twin hash-checked (s13b).
    */
  def viewPurchaseJoinOuter(views: DataFrame, purchases: DataFrame): DataFrame =
    viewPurchaseJoinImpl(views, purchases, "left_outer")

  /** S15 — LEFT SEMI variant of [[viewPurchaseJoin]]: views that DID get
    * a purchase within their 30-minute window, emitted once regardless of
    * how many purchases matched. Streaming semantics mirror the outer
    * join's eviction logic inverted: a view row is emitted as soon as one
    * match arrives and its state is dropped; with no match it is simply
    * evicted silently at the watermark. Batch twin = EXISTS, hash-checked
    * (s15); stream == batch in StreamingSpec.
    */
  def viewPurchaseJoinSemi(views: DataFrame, purchases: DataFrame): DataFrame =
    viewPurchaseJoinImpl(views, purchases, "left_semi")

  /** S17 — FULL OUTER variant of [[viewPurchaseJoin]], completing the
    * stream-stream join matrix (inner / left outer / left semi / full
    * outer): unmatched views AND unmatched purchases both survive with
    * nulls on the other side. Streaming eviction is symmetric — each
    * side's state row is emitted null-extended when its own watermark
    * proves no future match can arrive (the same condition that lets the
    * symmetric-hash join drop the row's state). `user_id` is coalesced
    * across sides so purchase-only rows keep their key. Batch twin =
    * FULL JOIN, hash-checked (s17); stream == batch in StreamingSpec.
    */
  def viewPurchaseJoinFull(views: DataFrame, purchases: DataFrame): DataFrame =
    viewPurchaseJoinImpl(views, purchases, "full_outer")

  private def viewPurchaseJoinImpl(views: DataFrame, purchases: DataFrame,
      joinType: String): DataFrame = {
    val v = views.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    val p = purchases.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("purchase_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "10 minutes")
    val joined = v.join(p,
        col("user_id") === col("purchase_user") &&
          col("purchase_ts") >= col("view_ts") &&
          col("purchase_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"),
        joinType)
    if (joinType == "left_semi")
      joined.select(col("view_id"), col("user_id"), col("view_ts"))
    else {
      // full outer: purchase-only rows have a null view-side user_id
      val user = if (joinType == "full_outer")
        coalesce(col("user_id"), col("purchase_user")) else col("user_id")
      joined.select(col("view_id"), col("purchase_id"), user.as("user_id"),
        (graft.Det.epochUs(col("purchase_ts")) - graft.Det.epochUs(col("view_ts")))
          .as("delta_us"))
    }
  }

  /** Streaming graph construction (the reference's continuous temporal
    * ingestion -> topology story): G_session edges emitted incrementally
    * as events arrive — per-user state is just the last event seen, and
    * each new event closes one edge. Batch runs of the same transform
    * reproduce Graphs.sessionEdges exactly (asserted in StreamingSpec).
    */
  case class SessionEv(event_id: Long, user_id: Long, ts_us: Long)
  case class SessionEdge(src: Long, dst: Long, avail_us: Long, arrive_us: Long)
  case class LastEv(event_id: Long, ts_us: Long)

  /** One session-edge step: previous state + next event -> (new state,
    * emitted edge). Shared by the streaming operator and the batch fold so
    * the two paths cannot diverge.
    */
  private def sessionStep(last: Option[LastEv], e: SessionEv)
      : (LastEv, Option[SessionEdge]) =
    (LastEv(e.event_id, e.ts_us),
      last.map(l => SessionEdge(l.event_id, e.event_id, l.ts_us, e.ts_us)))

  def sessionEdgesStream(events: Dataset[SessionEv]): Dataset[SessionEdge] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEv, SessionEdge](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[SessionEv], state: GroupState[LastEv]) =>
          // The sort buffers ONE user's slice of ONE micro-batch — bounded
          // by the trigger interval, not by history (state carries the
          // cross-batch part). The unbounded-history case is the batch
          // twin, which is [[sessionEdgesBatch]] (no group buffering).
          var last = state.getOption
          val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
            val (st, edge) = sessionStep(last, e)
            last = Some(st)
            edge
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Batch twin of [[sessionEdgesStream]] with O(1) state per task: hash-
    * repartition on the user, secondary-sort within partitions on
    * (user, ts, id), then a single streaming pass over each partition's
    * iterator detecting key changes. A hot user's entire history flows
    * through without ever being materialized (vs. flatMapGroupsWithState's
    * whole-group iterator-to-Seq).
    */
  def sessionEdgesBatch(events: Dataset[SessionEv]): Dataset[SessionEdge] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        var curUser = 0L
        var started = false
        var last: Option[LastEv] = None
        it.flatMap { e =>
          if (!started || e.user_id != curUser) {
            curUser = e.user_id; started = true; last = None
          }
          val (st, edge) = sessionStep(last, e)
          last = Some(st)
          edge
        }
      }
  }

  /** S14 — streaming interval-view maintenance (the reference's
    * continuous temporal ingestion applied to the property table itself):
    * each arriving change point CLOSES the previous interval of the same
    * entity — per-entity state is just the last change, and every
    * emitted row is an immutable closed interval `[valid_from, valid_to)`
    * with the value that held over it. The open (current) interval lives
    * in state, never emitted — exactly why this is append-mode safe.
    * Batch runs of the same step reproduce `Temporal.intervalView`'s
    * closed rows (asserted in StreamingSpec; hash-oracled via s14).
    */
  case class ChangeEv(user_id: Long, event_id: Long, ts_us: Long, cents: Long)
  case class IntervalRow(user_id: Long, event_id: Long, valid_from_us: Long,
    valid_to_us: Long, cents: Long)
  case class LastChange(event_id: Long, ts_us: Long, cents: Long)

  /** One interval step: previous change + next change -> (new state,
    * closed interval). Shared by the streaming operator and the batch
    * fold so the two paths cannot diverge (the sessionStep pattern).
    */
  private def intervalStep(last: Option[LastChange], e: ChangeEv)
      : (LastChange, Option[IntervalRow]) =
    (LastChange(e.event_id, e.ts_us, e.cents),
      last.map(l => IntervalRow(e.user_id, l.event_id, l.ts_us, e.ts_us,
        l.cents)))

  def intervalsStream(changes: Dataset[ChangeEv]): Dataset[IntervalRow] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastChange, IntervalRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[ChangeEv], state: GroupState[LastChange]) =>
          var last = state.getOption
          val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
            val (st, iv) = intervalStep(last, e)
            last = Some(st)
            iv
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Batch twin of [[intervalsStream]] with O(1) state per task (the
    * [[sessionEdgesBatch]] repartition + secondary-sort + fold pattern).
    */
  def intervalsBatch(changes: Dataset[ChangeEv]): Dataset[IntervalRow] = {
    import changes.sparkSession.implicits._
    changes
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        var curUser = 0L
        var started = false
        var last: Option[LastChange] = None
        it.flatMap { e =>
          if (!started || e.user_id != curUser) {
            curUser = e.user_id; started = true; last = None
          }
          val (st, iv) = intervalStep(last, e)
          last = Some(st)
          iv
        }
      }
  }

  /** S29 — streaming gap detection (T17 live): each arriving event is
    * checked against the same user's previous event; a silence longer
    * than the threshold emits the closed gap immediately. The
    * data-freshness monitor as a continuous query — in batch the same
    * fold over the whole table IS `Temporal.gaps` (s29's twin
    * hash-matches t17's oracle), and per-user state is ONE row (the
    * last seen event), the cheapest state shape in the suite: "gap to
    * the previous event" never needs a buffer. Boundary rule matches
    * gaps/sessionize: silence of exactly the threshold is NOT a gap.
    * Rows apply in (ts_us, event_id) order within a batch, so stream
    * == batch fold (StreamingSpec), the sessionStep pattern.
    */
  case class GapEv(user_id: Long, event_id: Long, ts_us: Long)
  case class GapSeen(event_id: Long, ts_us: Long)
  case class GapRow(user_id: Long, gap_start_us: Long, gap_end_us: Long,
    gap_us: Long)

  /** One gap step: last-seen + next event -> (new state, maybe a gap).
    * Shared by the streaming operator and the batch fold.
    */
  private def gapStep(last: Option[GapSeen], e: GapEv, minGapUs: Long)
      : (GapSeen, Option[GapRow]) =
    (GapSeen(e.event_id, e.ts_us),
      last.filter(l => e.ts_us - l.ts_us > minGapUs)
        .map(l => GapRow(e.user_id, l.ts_us, e.ts_us, e.ts_us - l.ts_us)))

  def gapsStream(events: Dataset[GapEv], minGapUs: Long): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[GapSeen, GapRow](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[GapEv], state: GroupState[GapSeen]) =>
          var last = state.getOption
          val out = rows.toSeq.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
            val (st, gap) = gapStep(last, e, minGapUs)
            last = Some(st)
            gap
          }
          last.foreach(state.update)
          out.iterator
      }
  }

  /** Event row for the BUFFERED gap twin (watermark anchor). */
  case class GapEvT(user_id: Long, event_id: Long, ts: java.time.Instant)

  /** S29b — OUT-OF-ORDER-TOLERANT gap detection: the eager
    * [[gapsStream]] would report a gap a late mid-gap event should
    * have SPLIT (guarded in-order caveat); here events buffer until
    * the watermark passes them — at which point nothing can land
    * inside — then fold through the same [[gapStep]] in (ts, event_id)
    * order from the carried last-seen. Stream == [[gapsBatch]] on the
    * undropped rows regardless of arrival order (StreamingSpec:
    * shuffled fixture + a gap-splitting late event). State per key:
    * one GapSeen + the above-watermark window.
    */
  class BufferedGapsProcessor(minGapUs: Long)
      extends StatefulProcessor[Long, GapEvT, GapRow] {
    @transient private var lastSeen: ValueState[GapSeen] = _
    @transient private var buf: ListState[GapEv] = _
    @transient private var nLate: ValueState[Long] = _

    private def tsUs(t: java.time.Instant): Long =
      t.getEpochSecond * 1000000L + t.getNano / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      lastSeen = getHandle.getValueState[GapSeen]("last",
        Encoders.product[GapSeen], TTLConfig.NONE)
      buf = getHandle.getListState[GapEv]("buf",
        Encoders.product[GapEv], TTLConfig.NONE)
      nLate = getHandle.getValueState[Long]("n_late",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    private def rearm(): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      val it = buf.get()
      if (it.hasNext) {
        val earliest = it.map(_.ts_us).min
        getHandle.registerTimer((earliest + 999L) / 1000L + 1L)
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[GapEvT],
        timerValues: TimerValues): Iterator[GapRow] = {
      rows.foreach(e =>
        buf.appendValue(GapEv(key, e.event_id, tsUs(e.ts))))
      rearm()
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[GapRow] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val (ripe, pending) = buf.get().toArray.partition(_.ts_us < wmUs)
      var last = if (lastSeen.exists()) Some(lastSeen.get()) else None
      // Defensive below-boundary drop (ADVICE r14, mirroring the
      // buffered pattern/attribution processors): gapStep updates
      // last-seen unconditionally, so a row at-or-below the last fold
      // boundary would silently REWIND the state. Spark's watermark
      // eviction makes such a row unreachable; count + log, never fold.
      var late = 0L
      val out = ripe.sortBy(e => (e.ts_us, e.event_id)).flatMap { e =>
        if (last.exists(l => e.ts_us < l.ts_us ||
            (e.ts_us == l.ts_us && e.event_id <= l.event_id))) {
          late += 1L
          None
        } else {
          val (st, gap) = gapStep(last, e, minGapUs)
          last = Some(st)
          gap
        }
      }
      if (late > 0) {
        val total = (if (nLate.exists()) nLate.get() else 0L) + late
        nLate.update(total)
        log.warn(s"buffered gaps stream: dropped $late below-boundary " +
          s"row(s) for entity $key ($total dropped so far)")
      }
      last.foreach(lastSeen.update)
      buf.clear(); pending.foreach(buf.appendValue)
      rearm()
      out.iterator
    }
  }

  /** S29b entry — event-time mode over a watermarked `ts` column. */
  def bufferedGapsStream(events: Dataset[GapEvT], minGapUs: Long)
      : Dataset[GapRow] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BufferedGapsProcessor(minGapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin of [[gapsStream]] with O(1) state per task. */
  def gapsBatch(events: Dataset[GapEv], minGapUs: Long): Dataset[GapRow] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        var curUser = 0L
        var started = false
        var last: Option[GapSeen] = None
        it.flatMap { e =>
          if (!started || e.user_id != curUser) {
            curUser = e.user_id; started = true; last = None
          }
          val (st, gap) = gapStep(last, e, minGapUs)
          last = Some(st)
          gap
        }
      }
  }

  /** S30 — streaming retention cohorts (Q34 live): per user, the set of
    * active weeks and the cohort week (its MIN) maintained as state.
    * The state subtlety this operator exists for: a LATE event from an
    * EARLIER week RETROACTIVELY moves the user's cohort, shifting every
    * (cohort, week) pair the user has ever contributed — so append-mode
    * emission of pairs is WRONG by construction (the s26 lesson); each
    * batch re-emits the user's full current snapshot and Update
    * semantics replace the old one. State is the user's distinct-week
    * set — bounded by the calendar, not the event count. Batch runs of
    * the same fold aggregate to exactly q34's cohort table
    * (hash-matched); stream == batch incl. a cohort shift in
    * StreamingSpec.
    */
  case class WkEv(user_id: Long, wk: Long)
  case class WkState(weeks: List[Long])
  case class UserWeeks(user_id: Long, cohort_wk: Long, weeks: Seq[Long])

  def retentionStream(evs: Dataset[WkEv]): Dataset[UserWeeks] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[WkState, UserWeeks](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[WkEv], state: GroupState[WkState]) =>
          var weeks = state.getOption.map(_.weeks).getOrElse(Nil)
          rows.foreach(e => if (!weeks.contains(e.wk)) weeks = e.wk :: weeks)
          state.update(WkState(weeks))
          Iterator.single(UserWeeks(uid, weeks.min, weeks.sorted))
      }
  }

  /** Batch twin of [[retentionStream]]'s final state. */
  def retentionBatch(evs: Dataset[WkEv]): Dataset[UserWeeks] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      val weeks = rows.map(_.wk).toSeq.distinct.sorted
      UserWeeks(uid, weeks.min, weeks)
    }
  }

  /** S31 — streaming end-of-day balance maintenance (T30 live): per
    * user, the LAST change of every day kept as state — the
    * semi-additive aggregation's streaming form. The state subtlety:
    * a late event lands in an EARLIER day and must rewrite that day's
    * last value only if it is genuinely later WITHIN that day (by
    * (ts, event_id)) — an append-only "day closed at watermark"
    * emission would either drop it or double-count it, so each batch
    * re-emits the user's full per-day snapshot and Update semantics
    * replace it (the s30 move). State is one row per (user, ACTIVE
    * day) — bounded by the calendar horizon, compactable by dropping
    * days past the watermark into a single carried opening balance.
    * Batch runs of the same fold feed t30's delta-encoded daily curve
    * exactly (hash-matched against t30's brute-force oracle); stream
    * == batch incl. both late-event cases in StreamingSpec.
    */
  case class BalEv(user_id: Long, day_us: Long, ts_us: Long,
    event_id: Long, cents: Long)
  case class DayLast(day_us: Long, ts_us: Long, event_id: Long, cents: Long)
  case class BalState(days: List[DayLast])
  case class UserDays(user_id: Long, days: Seq[DayLast])

  /** One fold step: replace the day's entry iff the event is later
    * within its day by (ts_us, event_id). Shared stream/batch.
    */
  private def balFold(st: List[DayLast], e: BalEv): List[DayLast] =
    st.find(_.day_us == e.day_us) match {
      case Some(d) if d.ts_us > e.ts_us ||
        (d.ts_us == e.ts_us && d.event_id >= e.event_id) => st
      case Some(d) => st.filterNot(_.day_us == e.day_us) :+
        DayLast(e.day_us, e.ts_us, e.event_id, e.cents)
      case None => st :+ DayLast(e.day_us, e.ts_us, e.event_id, e.cents)
    }

  def eodStream(evs: Dataset[BalEv]): Dataset[UserDays] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id)
      .flatMapGroupsWithState[BalState, UserDays](
        org.apache.spark.sql.streaming.OutputMode.Update(),
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[BalEv], state: GroupState[BalState]) =>
          var days = state.getOption.map(_.days).getOrElse(Nil)
          rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
            .foreach(e => days = balFold(days, e))
          state.update(BalState(days))
          Iterator.single(UserDays(uid, days.sortBy(_.day_us)))
      }
  }

  /** Batch twin of [[eodStream]]'s final state. */
  def eodBatch(evs: Dataset[BalEv]): Dataset[UserDays] = {
    import evs.sparkSession.implicits._
    evs.groupByKey(_.user_id).mapGroups { (uid, rows) =>
      var days: List[DayLast] = Nil
      rows.toSeq.sortBy(e => (e.ts_us, e.event_id))
        .foreach(e => days = balFold(days, e))
      UserDays(uid, days.sortBy(_.day_us))
    }
  }

  /** S22 — streaming heavy hitters by SPACE-SAVING (Metwally et al.
    * 2005): per group key, at most `m` tracked (item, count, err)
    * counters — an untracked arrival evicts the minimum-count entry
    * and inherits its count as both estimate floor and error bound.
    * The sketch guarantees, gated in StreamingSpec against exact
    * fixture counts: `est ≥ true` and `est − err ≤ true` for every
    * tracked item, exactness while no eviction has occurred, and the
    * dominant item of a skewed stream always survives. State is
    * BOUNDED (m counters per key) no matter how many distinct items
    * flow — the property windowed exact counting cannot give at
    * 100 TB. Deterministic: rows apply in (ts, id) order and eviction
    * ties break by greatest item id; stream == batch fold in
    * StreamingSpec.
    */
  case class SsEv(gkey: String, item: Long, ts_us: Long, event_id: Long)
  case class SsEntry(item: Long, est: Long, err: Long)
  case class SsState(entries: List[SsEntry])
  case class SsOut(gkey: String, item: Long, est: Long, err: Long)

  /** One space-saving step. List state stays tiny (≤ m entries). */
  private def ssStep(st: List[SsEntry], item: Long, m: Int): List[SsEntry] =
    st.find(_.item == item) match {
      case Some(e) =>
        st.filterNot(_.item == item) :+ e.copy(est = e.est + 1)
      case None if st.size < m => st :+ SsEntry(item, 1L, 0L)
      case None =>
        val victim = st.minBy(e => (e.est, -e.item))
        st.filterNot(_.item == victim.item) :+
          SsEntry(item, victim.est + 1, victim.est)
    }

  private def ssOrder(e: SsEv): (Long, Long) = (e.ts_us, e.event_id)

  /** OUTPUT CONTRACT: each micro-batch re-emits the FULL current sketch
    * for every key it touched — Update-mode semantics carried over an
    * Append-mode channel (flatMapGroupsWithState exposes no batch id to
    * stamp rows with). A downstream consumer must keep only the LATEST
    * emission per key — e.g. land batches into a keyed upsert sink
    * (the [[mergeSnapshot]] pattern), or, on a raw append sink, take
    * the final batch's rows (what StreamingSpec does by offset). Rows
    * from earlier batches are stale state, including entries for items
    * since evicted.
    */
  def heavyHittersStream(events: Dataset[SsEv], m: Int): Dataset[SsOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.gkey)
      .flatMapGroupsWithState[SsState, SsOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[SsEv], state: GroupState[SsState]) =>
          var st = state.getOption.map(_.entries).getOrElse(Nil)
          rows.toSeq.sortBy(ssOrder).foreach { e =>
            st = ssStep(st, e.item, m)
          }
          state.update(SsState(st))
          st.iterator.map(e => SsOut(key, e.item, e.est, e.err))
      }
  }

  /** Batch twin of [[heavyHittersStream]]: one fold per key over the
    * secondary-sorted partition, O(m) state.
    */
  def heavyHittersBatch(events: Dataset[SsEv], m: Int): Dataset[SsOut] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("gkey"))
      .sortWithinPartitions(col("gkey"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        // LAZY per-key folding: each contiguous key run folds and emits
        // before the next begins, so the working set is ONE (key, ≤m
        // entries) sketch no matter how many keys land in the partition
        // — accumulating all sketches first would break the op's own
        // bounded-state promise on high-cardinality keys.
        val b = it.buffered
        new Iterator[SsOut] {
          private var queue: Iterator[SsOut] = Iterator.empty
          private def refill(): Unit =
            while (!queue.hasNext && b.hasNext) {
              val key = b.head.gkey
              var st = List.empty[SsEntry]
              while (b.hasNext && b.head.gkey == key)
                st = ssStep(st, b.next().item, m)
              queue = st.iterator.map(e => SsOut(key, e.item, e.est, e.err))
            }
          def hasNext: Boolean = { refill(); queue.hasNext }
          def next(): SsOut = { refill(); queue.next() }
        }
      }
  }

  /** S21 — streaming SCD2 maintenance (the CDC-apply sink): each
    * micro-batch carries full entity snapshots stamped with their as-of
    * time (`snap_us`); foreachBatch folds them into the running SCD2
    * history with the SAME `Temporal.scd2Merge` the T07 batch contract
    * uses — keep / close+reopen / delete-close / insert-open per
    * entity. A batch holding several stamps applies them in ascending
    * order (the stamp set is a tiny per-batch driver fetch, the
    * codebook pattern). Exactly-once comes from MERGE IDEMPOTENCE, not
    * a ledger: re-applying an already-applied snapshot at the same
    * as-of time compares every entity unchanged against the row the
    * first apply wrote and emits the identical history (asserted in
    * StreamingSpec) — the property foreachBatch retries require,
    * complementing S16's max-reduction trick and T09b's batch-id
    * ledger as the third idempotence strategy in the suite.
    */
  def scd2ApplyBatch(history: DataFrame, batch: DataFrame, entity: String,
      attrs: Seq[String]): DataFrame = {
    val times = batch.select("snap_us").distinct()
      .collect().map(_.getLong(0)).sorted
    times.foldLeft(history) { (h, t) =>
      graft.ops.Temporal.scd2Merge(h,
        batch.filter(col("snap_us") === t).drop("snap_us"),
        entity, attrs, t)
    }
  }

  /** S20 — STREAMING as-of join, the engine's signature operator in
    * continuous form: each arriving purchase is answered with the most
    * recent at-or-before click of the same user (tie at equal ts → max
    * click id — exactly q10's semantics). Per-user state is ONE row (the
    * best click so far), not a buffer: the probe side never waits,
    * because "at-or-before" only needs the running maximum. Rows are
    * applied in event-time order — (ts, clicks-first, id) — within each
    * micro-batch, clicks-first so an equal-ts click is visible to the
    * purchase that shares its timestamp, matching the batch at-or-before
    * rule; across batches the source must deliver in event-time order
    * (the fixture replay does), the same contract as
    * [[sessionEdgesStream]]. When that contract does NOT hold — late
    * clicks landing in later micro-batches — use [[bufferedAsofStream]]
    * (S20b), which buffers within the watermark and emits on event-time
    * timers at the cost of state proportional to the watermark window.
    */
  case class AsofEv(user_id: Long, event_id: Long, ts_us: Long,
    is_click: Boolean)
  case class AsofHit(event_id: Long, user_id: Long, ts_us: Long,
    click_id: Option[Long])
  case class BestClick(click_id: Long, ts_us: Long)

  /** One as-of step: state + next row -> (new state, emitted hit).
    * Shared by the streaming operator and the batch fold so the two
    * paths cannot diverge (the sessionStep pattern).
    */
  private def asofStep(st: Option[BestClick], e: AsofEv)
      : (Option[BestClick], Option[AsofHit]) =
    if (e.is_click) {
      val better = st match {
        case Some(c) if c.ts_us > e.ts_us ||
          (c.ts_us == e.ts_us && c.click_id > e.event_id) => c
        case _ => BestClick(e.event_id, e.ts_us)
      }
      (Some(better), None)
    } else
      (st, Some(AsofHit(e.event_id, e.user_id, e.ts_us, st.map(_.click_id))))

  private def asofOrder(e: AsofEv): (Long, Int, Long) =
    (e.ts_us, if (e.is_click) 0 else 1, e.event_id)

  def asofStream(events: Dataset[AsofEv]): Dataset[AsofHit] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BestClick, AsofHit](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AsofEv], state: GroupState[BestClick]) =>
          var st = state.getOption
          val out = rows.toSeq.sortBy(asofOrder).flatMap { e =>
            val (s2, hit) = asofStep(st, e)
            st = s2
            hit
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Batch twin of [[asofStream]] with O(1) state per task (the
    * [[sessionEdgesBatch]] repartition + secondary-sort + fold pattern):
    * the WHOLE history streams through one fold per user, never
    * materialized — the single-pass merge the AsOfMergeJoin exec makes,
    * without building its right-side index.
    */
  def asofBatch(events: Dataset[AsofEv]): Dataset[AsofHit] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"),
        col("is_click").desc, col("event_id"))
      .mapPartitions { it =>
        var curUser = 0L
        var started = false
        var st: Option[BestClick] = None
        it.flatMap { e =>
          if (!started || e.user_id != curUser) {
            curUser = e.user_id; started = true; st = None
          }
          val (s2, hit) = asofStep(st, e)
          st = s2
          hit
        }
      }
  }

  /** S20b — OUT-OF-ORDER-tolerant streaming as-of: the watermark-buffered
    * twin of [[asofStream]]. [[asofStream]] answers each probe
    * immediately from the running best click, which is exact only if
    * rows arrive in event-time order ACROSS micro-batches; a click that
    * lands in a later batch than a probe it should have answered is
    * silently missed (the caveat on [[asofStream]]'s scaladoc). This
    * variant holds each probe until the watermark passes its timestamp —
    * at that point no click at-or-before it can still arrive (rows below
    * the watermark are dropped before the processor), so the answer is
    * FINAL and equals the batch as-of on the undropped row set.
    *
    * Mechanics (the [[SessionTimerProcessor]] event-time-timer shape):
    * per user, a ListState of pending probes, a ListState of buffered
    * in-window clicks, and ONE compacted [[BestClick]] for everything
    * already below the watermark — every pending probe's ts is >= the
    * watermark at the last flush, hence >= every folded click's ts, so
    * folding is lossless for at-or-before answers. One live timer per
    * key, armed at the earliest pending probe + 1 ms (timers are
    * millisecond-granular; answering needs watermark STRICTLY past the
    * probe so an equal-ts click in flight still counts). Each expiry
    * answers every ripe probe (best of folded + buffered clicks with
    * click ts <= probe ts, max (ts, id) — q10's tie rule), folds ripe
    * clicks, re-arms for the earliest survivor.
    *
    * State is O(probes + clicks inside the watermark window) per user —
    * the price of out-of-order tolerance, bounded by the watermark delay,
    * exactly like s13/s17's stream-stream join buffers. At 100 TB the
    * state is keyed by user and RocksDB-backed; nothing global.
    */
  case class AsofInT(user_id: Long, event_id: Long, ts: java.time.Instant,
    is_click: Boolean)
  private case class PendProbe(event_id: Long, ts_us: Long)

  class BufferedAsofProcessor
      extends StatefulProcessor[Long, AsofInT, AsofHit] {
    @transient private var best: ValueState[BestClick] = _
    @transient private var clicks: ListState[BestClick] = _
    @transient private var probes: ListState[PendProbe] = _

    private def tsUs(t: java.time.Instant): Long =
      t.getEpochSecond * 1000000L + t.getNano / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      best = getHandle.getValueState[BestClick]("best",
        Encoders.product[BestClick], TTLConfig.NONE)
      clicks = getHandle.getListState[BestClick]("clicks",
        Encoders.product[BestClick], TTLConfig.NONE)
      probes = getHandle.getListState[PendProbe]("probes",
        Encoders.product[PendProbe], TTLConfig.NONE)
    }

    // Exactly one live timer per key: earliest pending probe + 1 ms
    // (watermark must be strictly past the probe's microsecond ts, and
    // timers are ms-granular — round the probe ts UP, then +1).
    private def rearm(): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      val pending = probes.get()
      if (pending.hasNext) {
        val earliest = pending.map(_.ts_us).min
        getHandle.registerTimer((earliest + 999L) / 1000L + 1L)
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[AsofInT],
        timerValues: TimerValues): Iterator[AsofHit] = {
      rows.foreach { e =>
        if (e.is_click) clicks.appendValue(BestClick(e.event_id, tsUs(e.ts)))
        else probes.appendValue(PendProbe(e.event_id, tsUs(e.ts)))
      }
      rearm()
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[AsofHit] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val bufClicks = clicks.get().toArray
      val (ripe, pending) = probes.get().toArray.partition(_.ts_us < wmUs)
      val folded = if (best.exists()) Some(best.get()) else None
      // Answer ripe probes in event-time order (deterministic emission;
      // the answer itself depends only on the candidate set, not order).
      val out = ripe.sortBy(p => (p.ts_us, p.event_id)).map { p =>
        val cands = bufClicks.filter(_.ts_us <= p.ts_us) ++ folded
        val hit = if (cands.isEmpty) None
          else Some(cands.maxBy(c => (c.ts_us, c.click_id)).click_id)
        AsofHit(p.event_id, key, p.ts_us, hit)
      }
      // Fold clicks now below the watermark into the one-row compact:
      // every surviving / future probe has ts >= wm > these clicks' ts.
      val (old, inWin) = bufClicks.partition(_.ts_us < wmUs)
      if (old.nonEmpty) {
        val b = (old ++ folded).maxBy(c => (c.ts_us, c.click_id))
        best.update(b)
      }
      clicks.clear(); inWin.foreach(clicks.appendValue)
      probes.clear(); pending.foreach(probes.appendValue)
      rearm()
      out.iterator
    }
  }

  /** S20b entry: event-time mode over a watermarked `ts` column. Stream
    * == [[asofBatch]] on the undropped rows regardless of how (and how
    * out-of-order) rows split across micro-batches — asserted in
    * StreamingSpec with a click landing batches AFTER its probe.
    */
  def bufferedAsofStream(events: Dataset[AsofInT]): Dataset[AsofHit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BufferedAsofProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class AttribEv(user_id: Long, event_id: Long, ts_us: Long,
    is_touch: Boolean, is_purchase: Boolean, channel: String, cents: Long)
  case class LastTouch(ts_us: Long, event_id: Long, channel: String)
  case class Attribution(event_id: Long, user_id: Long, channel: String,
    cents: Long)

  private val attribLookbackUs = 7L * 86400000000L

  /** One attribution step (t33's rule as a fold): a touch becomes the
    * carried last-touch if it is LATER in (ts, event_id) order than the
    * carried one (the comparison — not blind replacement — keeps the
    * state right if a microbatch boundary splits equal timestamps); a
    * purchase emits the carried channel when the touch is within the
    * 7-day lookback, else 'direct'. A purchase at a touch's exact ts
    * with a smaller event_id does NOT see it — t33's strictly-earlier
    * rule, preserved by processing in plain (ts_us, event_id) order.
    */
  private def attribStep(st: Option[LastTouch], e: AttribEv)
      : (Option[LastTouch], Option[Attribution]) =
    if (e.is_touch) {
      val better = st match {
        case Some(t) if t.ts_us > e.ts_us ||
          (t.ts_us == e.ts_us && t.event_id > e.event_id) => t
        case _ => LastTouch(e.ts_us, e.event_id, e.channel)
      }
      (Some(better), None)
    } else if (e.is_purchase) {
      val ch = st match {
        case Some(t) if t.ts_us >= e.ts_us - attribLookbackUs => t.channel
        case _ => "direct"
      }
      (st, Some(Attribution(e.event_id, e.user_id, ch, e.cents)))
    } else (st, None)

  private def attribOrder(e: AttribEv): (Long, Long) = (e.ts_us, e.event_id)

  /** S33 — streaming last-touch attribution: t33 maintained live with
    * O(1) state per user (one LastTouch), purchases credited as they
    * arrive. flatMapGroupsWithState in Append mode, the asofStream
    * shape.
    */
  def attributionStream(events: Dataset[AttribEv]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTouch, Attribution](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[AttribEv], state: GroupState[LastTouch]) =>
          var st = state.getOption
          val out = rows.toSeq.sortBy(attribOrder).flatMap { e =>
            val (s2, hit) = attribStep(st, e)
            st = s2
            hit
          }
          st.foreach(state.update)
          out.iterator
      }
  }

  /** Batch twin of [[attributionStream]]: the asofBatch repartition +
    * secondary-sort + fold shape — O(1) state per task, never a
    * per-user buffer.
    */
  def attributionBatch(events: Dataset[AttribEv]): Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_us"), col("event_id"))
      .mapPartitions { it =>
        var curUser = 0L
        var started = false
        var st: Option[LastTouch] = None
        it.flatMap { e =>
          if (!started || e.user_id != curUser) {
            curUser = e.user_id; started = true; st = None
          }
          val (s2, hit) = attribStep(st, e)
          st = s2
          hit
        }
      }
  }

  /** Event row for the BUFFERED attribution twin: a real timestamp
    * column for the watermark (callers `.withWatermark("ts", delay)`).
    */
  case class AttribEvT(user_id: Long, event_id: Long,
    ts: java.time.Instant, is_touch: Boolean, is_purchase: Boolean,
    channel: String, cents: Long)
  private case class PendPurchase(event_id: Long, ts_us: Long, cents: Long)

  /** S33b — OUT-OF-ORDER-TOLERANT streaming attribution: the S34
    * watermark-buffer discipline applied to last-touch credit. The
    * eager [[attributionStream]] credits a purchase the moment it
    * arrives, so a late touch landing batches after the purchase is
    * silently invisible (the guarded in-order caveat); here purchases
    * buffer in ListState until the watermark passes them — at which
    * point every touch at-or-before them is final — and are answered
    * against the buffered touch set with exactly [[attribStep]]'s
    * strictly-earlier (ts, event_id) + 7-day-lookback rule. Stream ==
    * [[attributionBatch]] on the undropped rows regardless of arrival
    * order (StreamingSpec: bit-reversal-shuffled fixture + a
    * late-touch hand case).
    *
    * State stays bounded without a fold-to-best compaction: a pending
    * purchase has ts ≥ wm, so any touch that could still credit one
    * has ts ≥ wm − lookback — older touches are DROPPED outright (a
    * purchase whose latest prior touch is older than its lookback is
    * 'direct' anyway). Per key: touches within one lookback window +
    * purchases within the watermark delay, all in RocksDB.
    */
  class BufferedAttributionProcessor
      extends StatefulProcessor[Long, AttribEvT, Attribution] {
    @transient private var touches: ListState[LastTouch] = _
    @transient private var purchases: ListState[PendPurchase] = _

    private def tsUs(t: java.time.Instant): Long =
      t.getEpochSecond * 1000000L + t.getNano / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      touches = getHandle.getListState[LastTouch]("touches",
        Encoders.product[LastTouch], TTLConfig.NONE)
      purchases = getHandle.getListState[PendPurchase]("purchases",
        Encoders.product[PendPurchase], TTLConfig.NONE)
    }

    // one live timer per key: earliest pending purchase, ms-rounded up
    // + 1 (the BufferedAsofProcessor rule)
    private def rearm(): Unit = {
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      val pending = purchases.get()
      if (pending.hasNext) {
        val earliest = pending.map(_.ts_us).min
        getHandle.registerTimer((earliest + 999L) / 1000L + 1L)
      }
    }

    override def handleInputRows(key: Long, rows: Iterator[AttribEvT],
        timerValues: TimerValues): Iterator[Attribution] = {
      rows.foreach { e =>
        if (e.is_touch)
          touches.appendValue(LastTouch(tsUs(e.ts), e.event_id, e.channel))
        else if (e.is_purchase)
          purchases.appendValue(PendPurchase(e.event_id, tsUs(e.ts),
            e.cents))
      }
      rearm()
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Attribution] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val buf = touches.get().toArray
      val (ripe, pending) = purchases.get().toArray.partition(_.ts_us < wmUs)
      val out = ripe.sortBy(p => (p.ts_us, p.event_id)).map { p =>
        val cands = buf.filter(t => (t.ts_us < p.ts_us ||
            (t.ts_us == p.ts_us && t.event_id < p.event_id)) &&
          t.ts_us >= p.ts_us - attribLookbackUs)
        val ch = if (cands.isEmpty) "direct"
          else cands.maxBy(t => (t.ts_us, t.event_id)).channel
        Attribution(p.event_id, key, ch, p.cents)
      }
      val kept = buf.filter(_.ts_us >= wmUs - attribLookbackUs)
      touches.clear(); kept.foreach(touches.appendValue)
      purchases.clear(); pending.foreach(purchases.appendValue)
      rearm()
      out.iterator
    }
  }

  /** S33b entry — event-time mode over a watermarked `ts` column. */
  def bufferedAttributionStream(events: Dataset[AttribEvT])
      : Dataset[Attribution] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new BufferedAttributionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-user running state for S06: EXACT integer moments — event
    * count, Σ cents, Σ cents². Integer state (not Welford mean/M2
    * doubles) is what makes the 3σ flag decision exact and therefore
    * hash-matchable against a SQL oracle: the float fold's answer
    * depends on accumulated rounding, the integer one doesn't.
    */
  case class UserState(n: Long, s: Long, q: Long)
  case class EventIn(event_id: Long, user_id: Long, value: Double)
  case class Flagged(event_id: Long, user_id: Long, value: Double,
      anomalous: Boolean)

  /** S08 state/output rows for the transformWithState processor. */
  case class UserTotals(n_events: Long, sum_cents: Long)
  case class UserTotalsOut(user_id: Long, n_events: Long, sum_cents: Long)

  /** S08 — Spark 4 `transformWithState` processor: per-user running event
    * count and value total (integer cents — order-independent, so the
    * batch run is hash-checkable). Emits the updated totals for each user
    * seen in a batch; state is a single ValueState per user (TTL-able via
    * TTLConfig when running with processing-time mode).
    */
  class UserTotalsProcessor
      extends StatefulProcessor[Long, EventIn2, UserTotalsOut] {
    @transient private var totals: ValueState[UserTotals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[UserTotals]("totals",
        Encoders.product[UserTotals], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[EventIn2],
        timerValues: TimerValues): Iterator[UserTotalsOut] = {
      var t = if (totals.exists()) totals.get() else UserTotals(0L, 0L)
      rows.foreach { e =>
        t = UserTotals(t.n_events + 1, t.sum_cents + Det.centsJvm(e.value))
      }
      totals.update(t)
      Iterator(UserTotalsOut(key, t.n_events, t.sum_cents))
    }
  }

  case class EventIn2(user_id: Long, value: Double)

  /** S08 entry: works on batch (one pass, empty initial state) and
    * streaming (Update mode, RocksDB state store) identically.
    */
  def userTotals(events: Dataset[EventIn2]): Dataset[UserTotalsOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new UserTotalsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** S09 input/output rows: K most-recent events per user via ListState. */
  case class TsEv(user_id: Long, event_id: Long, ts_us: Long, cents: Long)
  case class LastKOut(user_id: Long, n_recent: Long, recent_cents: Long)

  /** S09 — `transformWithState` with LIST state: per user, retain the K
    * most-recent events by (ts, event_id) and emit their count + cents
    * total. The retained window is merged bounded: existing list + this
    * batch's rows go through a size-K worst-out heap, so a hot user's
    * batch slice never materializes beyond K entries.
    */
  class LastKProcessor(k: Int)
      extends StatefulProcessor[Long, TsEv, LastKOut] {
    @transient private var recent: ListState[TsEv] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[TsEv]("recent",
        Encoders.product[TsEv], TTLConfig.NONE)

    // min-heap on (ts, event_id): head = OLDEST kept → evicted first.
    private val oldestFirst = Ordering.by[TsEv, (Long, Long)](
      e => (-e.ts_us, -e.event_id))

    override def handleInputRows(key: Long, rows: Iterator[TsEv],
        timerValues: TimerValues): Iterator[LastKOut] = {
      val heap = scala.collection.mutable.PriorityQueue.empty[TsEv](oldestFirst)
      (recent.get() ++ rows).foreach { e =>
        // head = oldest kept; evict it when e is newer (O-smaller).
        if (heap.size < k) heap.enqueue(e)
        else if (oldestFirst.lt(e, heap.head)) { heap.dequeue(); heap.enqueue(e) }
      }
      val kept = heap.toArray
      recent.put(kept)
      Iterator(LastKOut(key, kept.length.toLong, kept.map(_.cents).sum))
    }
  }

  /** S09 entry: batch = K most-recent per user in one pass (hash-oracled
    * against a window-rank SQL twin); streaming = same processor fed
    * incrementally, list state carrying the window across batches.
    */
  def lastKTotals(events: Dataset[TsEv], k: Int): Dataset[LastKOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new LastKProcessor(k), TimeMode.None(),
        OutputMode.Update())
  }

  /** S10 output row: per-user per-event-type running counts via MapState. */
  case class TypeCountOut(user_id: Long, event_type: String, n: Long)

  /** S10 — `transformWithState` with MAP state: user-keyed state maps
    * event_type -> running count (state size = #distinct types per user,
    * not history). Emits every (type, count) entry the user holds after
    * the batch — Update-mode semantics, so the final batch's emission is
    * the full per-user histogram.
    */
  class TypeCountsProcessor
      extends StatefulProcessor[Long, TypeEv, TypeCountOut] {
    @transient private var counts: MapState[String, Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[String, Long]("counts",
        Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TypeEv],
        timerValues: TimerValues): Iterator[TypeCountOut] = {
      rows.foreach { e =>
        val cur = if (counts.containsKey(e.event_type))
          counts.getValue(e.event_type) else 0L
        counts.updateValue(e.event_type, cur + 1L)
      }
      counts.iterator().map { case (t, n) => TypeCountOut(key, t, n) }
    }
  }

  case class TypeEv(user_id: Long, event_type: String)

  def typeCounts(events: Dataset[TypeEv]): Dataset[TypeCountOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new TypeCountsProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** S26 funnel rows: per-user view→click→purchase progression. */
  case class FunnelEv(user_id: Long, event_type: String, ts_us: Long)
  case class FunnelOut(user_id: Long, v_us: Long, c_us: Long, p_us: Long)

  /** S26 — streaming funnel progression (Q33 continuously): per user the
    * earliest view, earliest click AT-OR-AFTER that view, and earliest
    * purchase at-or-after that click, maintained EXACTLY under
    * out-of-order arrival. The subtlety an O(1) fold gets wrong: a late
    * EARLIER view can lower v_ts and retroactively qualify clicks that
    * were ineligible when they arrived — so the state keeps v_min (one
    * long) plus the click/purchase time LISTS, and re-derives the chain
    * per batch (min click ≥ v, then min purchase ≥ that). State is
    * O(clicks+purchases) per user — in production the lists live under
    * the same watermark horizon as every buffered-input operator here;
    * the funnel fixture's per-user volumes are tens of rows. Update-mode
    * emission: the last row per user is its current funnel truth; one
    * batch over the whole table = Q33's stage sets exactly.
    */
  class FunnelProcessor
      extends StatefulProcessor[Long, FunnelEv, FunnelOut] {
    @transient private var vMin: ValueState[Long] = _
    @transient private var clicks: ListState[Long] = _
    @transient private var purchases: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      vMin = getHandle.getValueState[Long]("vmin",
        Encoders.scalaLong, TTLConfig.NONE)
      clicks = getHandle.getListState[Long]("clicks",
        Encoders.scalaLong, TTLConfig.NONE)
      purchases = getHandle.getListState[Long]("purchases",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[FunnelEv],
        timerValues: TimerValues): Iterator[FunnelOut] = {
      var v = if (vMin.exists()) vMin.get() else Long.MaxValue
      rows.foreach { e =>
        e.event_type match {
          case "view"     => v = math.min(v, e.ts_us)
          case "click"    => clicks.appendValue(e.ts_us)
          case "purchase" => purchases.appendValue(e.ts_us)
          case _          => ()
        }
      }
      vMin.update(v)
      def minAtOrAfter(it: Iterator[Long], lo: Long): Long = {
        var best = Long.MaxValue
        it.foreach(t => if (t >= lo && t < best) best = t)
        best
      }
      val c = if (v == Long.MaxValue) Long.MaxValue
              else minAtOrAfter(clicks.get(), v)
      val p = if (c == Long.MaxValue) Long.MaxValue
              else minAtOrAfter(purchases.get(), c)
      def norm(x: Long) = if (x == Long.MaxValue) -1L else x
      Iterator(FunnelOut(key, norm(v), norm(c), norm(p)))
    }
  }

  def funnelStages(events: Dataset[FunnelEv]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new FunnelProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** S11 session input/state/output: timer-closed sessions. The input
    * carries a real TimestampType column (`Instant` — microsecond exact)
    * because event-time mode needs a watermarked event-time attribute.
    */
  case class SessInT(user_id: Long, event_id: Long, ts: java.time.Instant)
  case class SessAgg(start_us: Long, last_us: Long, n: Long)
  case class ClosedSession(user_id: Long, start_us: Long, end_us: Long,
      n_events: Long)

  /** S11 — `transformWithState` with EVENT-TIME TIMERS: per-user session
    * aggregation where a session closes `gapMs` after its last event, via
    * a registered timer rather than a downstream window operator. Each
    * batch extends/cuts sessions from the (sorted) batch slice; the timer
    * is re-armed to lastTs + gap, and when the watermark passes it,
    * `handleExpiredTimer` emits the closed session and clears state —
    * the state store holds ONE row per open session, nothing per event.
    *
    * In-batch gaps also close sessions inline (same strictly-greater gap
    * rule as T06's lag-based batch operator), so stream results equal the
    * batch sessionization regardless of how events split across batches
    * (asserted in StreamingSpec against Temporal.sessionize).
    */
  class SessionTimerProcessor(gapMs: Long)
      extends StatefulProcessor[Long, SessInT, ClosedSession] {
    @transient private var open: ValueState[SessAgg] = _

    private def tsUs(t: java.time.Instant): Long =
      t.getEpochSecond * 1000000L + t.getNano / 1000L

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[SessAgg]("open",
        Encoders.product[SessAgg], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[SessInT],
        timerValues: TimerValues): Iterator[ClosedSession] = {
      // One user's slice of one micro-batch, event order (trigger-bounded).
      val batch = rows.toArray.sortBy(e => (tsUs(e.ts), e.event_id))
      var cur: Option[SessAgg] = if (open.exists()) Some(open.get()) else None
      val closed = Seq.newBuilder[ClosedSession]
      batch.foreach { e =>
        val us = tsUs(e.ts)
        cur match {
          case Some(s) if us - s.last_us > gapMs * 1000L =>
            closed += ClosedSession(key, s.start_us, s.last_us, s.n)
            cur = Some(SessAgg(us, us, 1L))
          case Some(s) =>
            cur = Some(SessAgg(s.start_us, us, s.n + 1L))
          case None =>
            cur = Some(SessAgg(us, us, 1L))
        }
      }
      cur.foreach { s =>
        open.update(s)
        // Re-arm: exactly one live timer per key (delete-then-register;
        // timers are millisecond-granular — round the expiry UP so a
        // session never closes early mid-millisecond). The extra +1 ms
        // matches batch's strictly-greater gap rule at the exact
        // boundary: an event at ts == last + gap EXTENDS the session, so
        // the timer must not fire until the watermark is strictly past
        // last + gap — otherwise a watermark driven by other keys could
        // close the session before the boundary-equal event arrives.
        getHandle.listTimers().foreach(getHandle.deleteTimer)
        getHandle.registerTimer((s.last_us + 999L) / 1000L + gapMs + 1L)
      }
      closed.result().iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[ClosedSession] = {
      val out = if (open.exists()) {
        val s = open.get()
        Iterator.single(ClosedSession(key, s.start_us, s.last_us, s.n))
      } else Iterator.empty
      open.clear()
      out
    }
  }

  /** S11 entry (streaming form — event-time mode needs a watermarked
    * stream; the batch oracle is [[graft.ops.Temporal]] sessionization,
    * asserted in StreamingSpec).
    */
  def timerSessions(events: Dataset[SessInT], gapMs: Long): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** S12 — incremental temporal earliest-arrival over the LIVE session
    * graph (the reference's signature G10 traversal, maintained as edges
    * stream in): from a seed event, an edge (src, dst, avail, arrive) is
    * usable iff arrival(src) <= avail, giving arrival(dst) = arrive.
    *
    * Session edges connect consecutive events of ONE user in time order,
    * so the graph is a per-user chain and arrival state is just the chain
    * TIP (furthest reached event + its arrival time) — O(1) state per
    * user, keyed distribution, no cross-key reads. Edges must arrive in
    * per-user time order (they do: the edge's avail IS the src event's
    * timestamp, and the upstream stream is watermark-ordered per user in
    * micro-batch replays; the in-batch slice is sorted here).
    *
    * Matches [[graft.ops.Graphs.earliestArrival]] on the same edge set
    * (StreamingSpec asserts it against the test-scope GraphX twin) — the
    * batch frontier recomputes from scratch; this maintains the answer incrementally as the reference's
    * continuous temporal ingestion would.
    */
  case class TemporalEdge(user_id: Long, src: Long, dst: Long,
      avail_us: Long, arrive_us: Long)
  case class Arrival(event_id: Long, arrival_us: Long)

  class EarliestArrivalProcessor(seedUser: Long, seedId: Long,
      seedTsUs: Long)
      extends StatefulProcessor[Long, TemporalEdge, Arrival] {
    @transient private var tip: ValueState[Arrival] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      tip = getHandle.getValueState[Arrival]("tip",
        Encoders.product[Arrival], TTLConfig.NONE)

    override def handleInputRows(key: Long, rows: Iterator[TemporalEdge],
        timerValues: TimerValues): Iterator[Arrival] = {
      val out = Seq.newBuilder[Arrival]
      var cur: Option[Arrival] =
        if (tip.exists()) Some(tip.get()) else None
      if (cur.isEmpty && key == seedUser) {
        // first contact with the seed's chain: arrival(seed) = seed time
        cur = Some(Arrival(seedId, seedTsUs))
        out += cur.get
      }
      rows.toArray.sortBy(e => (e.avail_us, e.src)).foreach { e =>
        cur match {
          case Some(a) if a.event_id == e.src && a.arrival_us <= e.avail_us =>
            cur = Some(Arrival(e.dst, e.arrive_us))
            out += cur.get
          case _ => ()
        }
      }
      cur.foreach(tip.update)
      out.result().iterator
    }
  }

  def earliestArrivalStream(edges: Dataset[TemporalEdge], seedUser: Long,
      seedId: Long, seedTsUs: Long): Dataset[Arrival] = {
    import edges.sparkSession.implicits._
    edges.groupByKey(_.user_id)
      .transformWithState(
        new EarliestArrivalProcessor(seedUser, seedId, seedTsUs),
        TimeMode.None(), OutputMode.Append())
  }

  /** One anomaly step: state BEFORE the event decides the flag, then the
    * state absorbs the event. Shared by the streaming operator and the
    * batch fold. The flag `v > mean + 3σ` (sample σ) is evaluated as the
    * EXACT integer inequality
    *   d > 0  ∧  d²·(n−1) > 9·n·(n·Q − S²)      where d = n·v − S
    * (multiply through by n²(n−1) > 0; n·Q − S² = n·(n−1)·σ²·... is the
    * scaled sample variance, ≥ 0 by Cauchy–Schwarz). All terms are
    * integer cents, so the decision is deterministic and replays exactly
    * in the DuckDB oracle (s06 is hash-matched). The two big products
    * exceed 2^63 at fixture scale (d² alone can reach ~10^18 before the
    * (n−1) factor), so the comparison runs in BigInt — constant-size,
    * per-event, the same replayability-over-cycles tradeoff as md5Long.
    */
  private def anomalyStep(st: UserState, e: EventIn): (UserState, Flagged) = {
    val v = Det.centsJvm(e.value)
    val d = st.n * v - st.s
    val anomalous = st.n >= 2 && d > 0 &&
      BigInt(d) * d * (st.n - 1) >
        BigInt(9) * st.n * (BigInt(st.n) * st.q - BigInt(st.s) * st.s)
    (UserState(st.n + 1, st.s + v, st.q + v * v),
      Flagged(e.event_id, e.user_id, e.value, anomalous))
  }

  /** S06 — arbitrary stateful op: flag events whose value exceeds the
    * user's running mean + 3σ (state BEFORE the event — deterministic
    * within a group when input arrives in event order).
    */
  def flagAnomalies(events: Dataset[EventIn]): Dataset[Flagged] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[UserState, Flagged](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (_: Long, rows: Iterator[EventIn], state: GroupState[UserState]) =>
          // Sort buffers one user's slice of ONE micro-batch (bounded by
          // the trigger, not by history). Unbounded batch replays go
          // through [[flagAnomaliesBatch]] instead.
          var st = state.getOption.getOrElse(UserState(0L, 0L, 0L))
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            val (st2, flagged) = anomalyStep(st, e)
            st = st2
            flagged
          }
          state.update(st)
          out.iterator
      }
  }

  /** S18 rows: the streaming near-dup gate on SimHash band buckets. */
  case class BandEv(band: Int, bits: Long, doc_id: Long)
  case class BandFlag(doc_id: Long, band: Int, prior: Boolean)

  /** Explode a documents frame into its SimHash band buckets: the 60
    * significant bits of [[graft.ops.Similarity.simHash]] split into 4
    * disjoint 15-bit bands — two docs within Hamming distance 3 of each
    * other are GUARANTEED to share at least one band (pigeonhole), the
    * standard SimHash blocking scheme. Pure projection + generator, so
    * it runs identically on a batch frame and a stream.
    */
  def simHashBands(docs: DataFrame): DataFrame = {
    graft.functions.VecFunctions.ensureRegistered(docs.sparkSession)
    docs
      .select(col("doc_id"),
        graft.ops.Similarity.simHash(col("text")).as("simhash"))
      .select(col("doc_id"), posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), 15 * b).bitwiseAND(lit(32767L))): _*))
        .as(Seq("band", "bits")))
      .select(col("band"), col("bits"), col("doc_id"))
  }

  /** S18 — streaming near-dup gate: per (band, bits) bucket, ValueState
    * holds the MINIMUM doc_id ever seen; each arriving doc emits whether
    * an earlier doc (smaller id, this batch or any prior one) already
    * claimed its bucket. Intake-order semantics replay in batch because
    * "earlier" is the doc id itself, not arrival wall-clock: a doc is a
    * near-dup candidate iff ANY of its 4 bands was claimed first — the
    * per-doc OR is a plain downstream agg. State is ONE long per live
    * bucket (≤ 4 per distinct doc, shrinking with collisions), the
    * smallest state any banded dedup can carry.
    */
  class BandGateProcessor
      extends StatefulProcessor[(Int, Long), BandEv, BandFlag] {
    @transient private var minDoc: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      minDoc = getHandle.getValueState[Long]("min_doc",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long), rows: Iterator[BandEv],
        timerValues: TimerValues): Iterator[BandFlag] = {
      // ascending doc order makes "seen smaller" a running minimum
      val sorted = rows.toArray.sortBy(_.doc_id)
      var best = if (minDoc.exists()) minDoc.get() else Long.MaxValue
      val out = sorted.map { e =>
        val prior = best < e.doc_id
        if (e.doc_id < best) best = e.doc_id
        BandFlag(e.doc_id, e.band, prior)
      }
      minDoc.update(best)
      out.iterator
    }
  }

  /** S18 entry: batch = the whole corpus in one pass (per-doc dup flags
    * hash-oracled against a DuckDB window replay); streaming = the same
    * processor fed incrementally, bucket state carrying across batches.
    */
  def bandGate(bands: Dataset[BandEv]): Dataset[BandFlag] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(e => (e.band, e.bits))
      .transformWithState(new BandGateProcessor, TimeMode.None(),
        OutputMode.Update())
  }

  /** S19 — corpus-intake stream maintaining the persisted LSH index: one
    * ledgered append per micro-batch ([[graft.ops.SimIndex
    * .appendLshIndexBatch]] — batch 0 bootstraps the index, later
    * batches append only their own docs, replayed batch ids are
    * skipped). The streaming face of the incremental-maintenance story:
    * the corpus lands continuously, the index trails it by one
    * micro-batch, and nothing is ever rebuilt from scratch.
    */
  def maintainLshIndex(docs: DataFrame, prefix: String,
      checkpointDir: String, numHashes: Int, bands: Int, buckets: Int,
      shingleLen: Int = 3): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: DataFrame, batchId: Long) =>
        graft.ops.SimIndex.appendLshIndexBatch(batch, prefix, batchId,
          numHashes, bands, buckets, shingleLen))
      .start()

  /** Batch twin of [[flagAnomalies]] with O(1) state per task (hash-
    * repartition + secondary sort + one streaming pass per partition — see
    * [[sessionEdgesBatch]]): a hot key's full history is never
    * materialized on a task.
    */
  /** S44 — streaming MULTIMODAL intake (r17): the l53b codec→embedding
    * derivation composed into the s42 drift-gated ANN lifecycle, so
    * image batches flow decode → embed → index inside ONE foreachBatch
    * invocation. Each batch's P6 payloads are decoded by the real
    * raster parser ([[graft.ops.Media.decodeImagePixels]] — the
    * mapPartitions codec shape), pixels centered at 128 become the
    * Array[Float] embedding (exactly l53b/l53c's feature), and the
    * embeddings feed [[graft.ops.SimIndex.ivfIntakeBatch]]: first batch
    * bootstraps the IVF index, later batches append against the frozen
    * centroids unless the batch's residual-PSI fires the wholesale
    * retrain. Undecodable payloads (null pixels) are dropped here —
    * they have no feature vector, the media-table hygiene rule.
    * Returns true iff a drift rebuild fired.
    *
    * At 100 TB this is the shape of a production multimodal intake:
    * the codec cost is per NEW batch only, the index shuffle is
    * bucket-local appends, and the expensive retrain is gated on
    * distribution change, not volume. StreamingSpec gates the
    * maintained index == the one-shot l53c kernel on the full corpus
    * (exact pair-set equality after the final rebuild) and recall vs
    * the exact l53b pairs.
    */
  def mediaIntakeBatch(batch: DataFrame, prefix: String, k: Int,
      nprobe: Int, buckets: Int, psiThreshold: Double = 0.25): Boolean = {
    val emb = graft.ops.Media.decodeImagePixels(
        batch.select(col("doc_id"), col("payload")), "payload")
      .filter(col("pixels").isNotNull)
      .select(col("doc_id").as("vec_id"),
        transform(col("pixels"), x => (x - 128).cast("float"))
          .as("embedding"))
      // decoded ONCE: the intake reads the embeddings for the residual
      // histogram, the assignment, and the signature bump
      .transform(graft.ops.Checkpoints.cut)
    graft.ops.SimIndex.ivfIntakeBatch(emb, prefix, k, nprobe, buckets,
      psiThreshold)
  }

  def flagAnomaliesBatch(events: Dataset[EventIn]): Dataset[Flagged] = {
    import events.sparkSession.implicits._
    events
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("event_id"))
      .mapPartitions { it =>
        var curUser = 0L
        var started = false
        var st = UserState(0L, 0L, 0L)
        it.map { e =>
          if (!started || e.user_id != curUser) {
            curUser = e.user_id; started = true; st = UserState(0L, 0L, 0L)
          }
          val (st2, flagged) = anomalyStep(st, e)
          st = st2
          flagged
        }
      }
  }
}
