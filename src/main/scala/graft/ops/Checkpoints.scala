package graft.ops

import scala.concurrent.Await
import scala.concurrent.duration._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}

/** Lineage cut for iterative DataFrame loops (BFS, shortest paths, star
  * contraction, k-core, PageRank/HITS power iterations). Every round of
  * those loops must materialize its state — both to stop the plan tree
  * growing exponentially and to make the early-exit `count()` free — and
  * HOW it materializes is a deployment decision:
  *
  *   - Default: `localCheckpoint()` — executor-resident, unreplicated
  *     blocks. Fastest option and the right one for a single-node bench,
  *     but on a real cluster one lost executor mid-iteration loses blocks
  *     that have no lineage to recompute from, aborting the job. At 100 TB
  *     with hundreds of executors, that's routine, not rare.
  *   - `spark.graft.reliableCheckpoint=<dir>`: `checkpoint()` against a
  *     reliable checkpoint directory (HDFS/S3 on a cluster). Each cut
  *     writes the state to fault-tolerant storage, so executor loss costs
  *     a task retry, not the job. The per-round write is O(state), which
  *     iterative graph state (frontiers, rank vectors, contracted edges)
  *     keeps small next to the input.
  *
  * The checkpoint dir is taken from the conf the first time a reliable cut
  * runs in a session (`SparkContext.setCheckpointDir` appends a UUID
  * subdir; an already-set dir wins, so the value is session-sticky).
  *
  * REAPING: without
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` a 100-round
  * PageRank in reliable mode accretes every round's files until
  * application exit — iterations × state of dead storage. With it (a
  * STATIC conf, set at SparkContext creation — `spark.conf.set` at
  * runtime is too late), the ContextCleaner deletes a cut's files as
  * soon as its RDD is garbage-collected, which for the iterative loops
  * here is the natural loop shape: each round's `state = cut(step(state))`
  * drops the only reference to the previous round, so rounds i-2, i-3, …
  * reap WHILE the loop runs and steady-state disk is O(2 × state), not
  * O(iterations × state). GraphOpsSpec asserts the mid-run reap.
  * Accumulating loops (BFS's per-level union) hold references to every
  * level in the result plan by design — those files live until the
  * result is consumed, which is exactly as long as they are needed.
  *
  * OBSERVED CUTS: a loop that cuts its state and then sizes it (a
  * convergence test, a broadcast-hint switch) would pay a second job
  * that re-reads the cut. [[cutObserved]] attaches the metrics to the
  * cut's own job with `Dataset.observe`, so the size costs nothing.
  */
object Checkpoints {

  val CONF = "spark.graft.reliableCheckpoint"

  /** Materialize `df` and cut its lineage — reliably when [[CONF]] names a
    * checkpoint directory, executor-locally otherwise. Use through
    * `df.transform(Checkpoints.cut)` to keep call sites fluent.
    *
    * The reliable path persists BEFORE checkpointing (the pattern GraphX's
    * Pregel uses): `checkpoint()` runs one job to compute the RDD and a
    * SECOND job to write the checkpoint files, and without a persist that
    * second job recomputes the full lineage — every iteration's shuffle
    * would run twice. With the persist, the write job reads cached blocks;
    * the cache is dropped as soon as the files are durable.
    */
  def cut(df: DataFrame): DataFrame = {
    val s = df.sparkSession
    s.conf.getOption(CONF).filter(_.trim.nonEmpty) match {
      case Some(dir) =>
        val sc = s.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        val persisted = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val out = persisted.checkpoint()
        persisted.unpersist()
        out
      case None => df.localCheckpoint()
    }
  }

  /** [[cut]] with `metrics` observed on the cut's own job: returns the cut
    * frame and the metrics row, with no second job to size the state.
    *
    * The observation sits at the TOP of the plan, so it aggregates in the
    * result stage — a retried map task cannot count its rows twice. In
    * reliable mode the persisted plan keeps the observation, and the
    * checkpoint action reports it like the local one does. The row comes
    * from the listener bus after the action returns; the bounded wait
    * turns a cut that ever stops reporting metrics into an error instead
    * of a hang.
    */
  def cutObserved(df: DataFrame, metric: Column, metrics: Column*)
      : (DataFrame, Row) = {
    val obs = Observation()
    val out = cut(df.observe(obs, metric, metrics: _*))
    (out, Await.result(obs.future, ObserveTimeout))
  }

  /** [[cutObserved]] with the row count as its one metric. */
  def cutCounted(df: DataFrame): (DataFrame, Long) = {
    val (out, r) = cutObserved(df, count(lit(1)).as("rows"))
    (out, r.getLong(0))
  }

  private val ObserveTimeout = 5.minutes
}
