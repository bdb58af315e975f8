package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM per sbt test run). */
trait SparkSpecBase extends AnyFunSuite with BeforeAndAfterAll {

  /** Physical tree with the AQE wrapper unwrapped. AdaptiveSparkPlanExec
    * is a LEAF node: a `collect` over the raw executedPlan of an
    * AQE-wrapped query traverses nothing, so a "no Exchange in the plan"
    * assertion would pass VACUOUSLY exactly when the plan regressed to
    * shuffling (which is what gets it AQE-wrapped). Every plan-shape
    * assertion must go through here.
    */
  def physical(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }

  /** Evaluate `f` with auto-broadcast disabled: the fixtures are tiny, so
    * Catalyst would broadcast one side of a bucketed join and the plan
    * assertion would never exercise the bucket-locality property it
    * claims (at 100 TB neither side broadcasts). Build AND plan the
    * DataFrame inside `f` — planning is lazy, so a frame planned outside
    * the scope keeps the broadcast plan.
    */
  def withoutAutoBroadcast[T](f: => T): T = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try f finally spark.conf.set(key, prev)
  }
  /** Evaluate `f` and return every job it ran, in job order, as (call
    * site of the action the job serves, SQL execution id or -1). The
    * site is the one the action's SQL execution recorded, e.g.
    * `localCheckpoint at Checkpoints.scala:76`, so a broadcast build that
    * runs on a helper thread counts for the action that needed it. AQE is
    * off inside `f` (as in the bench sessions): under AQE every shuffle
    * stage is its own job, so one action would show as several.
    */
  def jobSites[T](f: => T): (T, Seq[(String, Long)]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val jobs = new java.util.concurrent.ConcurrentSkipListMap[Int, (String, Long)]()
    val actions = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .map(_.toLong).getOrElse(-1L)
        jobs.put(e.jobId,
          (e.stageInfos.maxBy(_.stageId).name.takeWhile(_ != '\n'), exec))
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          actions.put(x.executionId, x.description)
        case _ =>
      }
    }
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    val sc = spark.sparkContext
    org.apache.spark.ListenerDrain.drain(sc)
    sc.addSparkListener(listener)
    spark.conf.set(key, "false")
    try {
      val out = f
      org.apache.spark.ListenerDrain.drain(sc)
      import scala.jdk.CollectionConverters._
      (out, jobs.values.asScala.toSeq.map { case (stage, exec) =>
        (Option(actions.get(exec)).getOrElse(stage), exec) })
    } finally {
      spark.conf.set(key, prev)
      sc.removeSparkListener(listener)
    }
  }

  /** Min-id connected-component labels over the endpoints of the
    * non-self-loop `edges`, by a local union-find: the reference every
    * CC path (driver union-find, star contraction, GraphX, the maintained
    * folds) is checked against.
    */
  def unionFindLabels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }

  val sfDir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    // STATIC conf (read at context creation by the ContextCleaner): lets
    // GC'd reliable checkpoints delete their files mid-application — the
    // production setting for long iterative loops (Checkpoints scaladoc);
    // GraphOpsSpec asserts the reaping actually happens.
    .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    .getOrCreate()

  override def afterAll(): Unit = {
    // Shared across suites — do not stop.
    super.afterAll()
  }
}
