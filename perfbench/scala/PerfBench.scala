package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import graft.Tables

/** Closed-loop benchmark program: one client thread on `local[4]`; the
  * next operation starts only when the previous one has finished.
  *
  * It sets the workload up once, runs it for `--seconds`, checks every
  * result, and writes raw
  * records (set-ups, operations, and in a traced run spans and jobs) to
  * `--out`. `perfbench/run.py` turns the records into metrics.
  *
  * Usage: PerfBench --workload interactive|maintained_folds --seed N
  *   --seconds S --trace 0|1 --sf DIR --work DIR --refs FILE
  *   --oracles DIR --out FILE [--record FILE]
  *        PerfBench --dump-oracles FILE
  */
object PerfBench {
  val Cores = 4

  final case class Conf(workload: String, seed: Long, seconds: Double,
      trace: Boolean, sf: String, work: String, refs: String,
      oracles: String, out: String, record: Option[String])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    if (kv.contains("dump-oracles")) {
      val sql = graft.SparkEntry.oracleSql
      Json.write(kv("dump-oracles"), Json.obj(Interactive.queries.collect {
        case (_, key) if sql.contains(key) => key -> sql(key)
      }: _*))
      return
    }
    val c = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("sf"), kv("work"), kv("refs"), kv("oracles"),
      kv("out"), kv.get("record"))
    require(Seq("interactive", "maintained_folds").contains(c.workload),
      s"unknown workload ${c.workload}")
    run(c)
  }

  def session(c: Conf): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions",
        Tables.adaptiveShufflePartitions(c.sf, Cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
      .config("spark.local.dir", s"${c.work}/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Block-manager memory in use, in MB. */
  def blockMemoryMb(s: SparkSession): Double =
    s.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  def run(c: Conf): Unit = {
    val runner = new Runner
    // Set-up: session start, table warm-up (interactive) and the
    // workload's substrate. It runs once per process: in a cold JVM it
    // costs 15-25 s, and repeating it would not fit a benchmark pass in
    // its time budget.
    val t0 = Clock.now()
    val s = session(c)
    val t1 = Clock.now()
    if (c.workload == "interactive") Tables.warmParallel(s, c.sf, Cores)
    val t2 = Clock.now()
    val cachedMb = blockMemoryMb(s)
    val wl = if (c.workload == "interactive") new Interactive(s, c, runner)
      else new Folds(s, c, runner)
    wl.substrate()
    val t3 = Clock.now()
    val setup = Json.obj("session_s" -> (t1 - t0) / 1e3,
      "warm_s" -> (t2 - t1) / 1e3, "substrate_s" -> (t3 - t2) / 1e3,
      "total_s" -> (t3 - t0) / 1e3, "cached_mb" -> cachedMb,
      "parts" -> Json.obj(wl.parts.toSeq: _*))
    wl.prepareChecks()
    val tracer = if (c.trace) {
      val t = new Tracer(s.sparkContext)
      s.sparkContext.addSparkListener(t)
      runner.tracer = t
      t
    } else null

    runner.phase = "warmup"
    wl.warmup()
    runner.phase = "measure"
    val start = Clock.now()
    var i = 0
    // A traced run alternates untraced and traced passes, so the same
    // process measures the tracing overhead.
    val minIterations = if (c.trace) 2 * wl.minIterations else wl.minIterations
    while (i < minIterations ||
        (Clock.now() - start < c.seconds * 1e3 && !wl.exhausted)) {
      runner.traced = c.trace && i % 2 == 1
      wl.iteration(i)
      i += 1
    }
    val measureMs = Clock.now() - start
    runner.traced = false
    wl.release()
    System.gc()
    Thread.sleep(500)
    val storageMb = blockMemoryMb(s)
    if (tracer != null) tracer.drain()
    c.record.foreach(p => Json.write(p, wl.recorded))
    Json.write(c.out, Json.obj(
      "workload" -> c.workload, "seed" -> c.seed, "sf" -> c.sf,
      "cores" -> Cores,
      "shuffle_partitions" -> s.conf.get("spark.sql.shuffle.partitions"),
      "setup" -> setup, "iterations" -> i,
      "measure_ms" -> measureMs, "storage_mb" -> storageMb,
      "ops" -> Json.list(runner.ops.toSeq),
      "spans" -> (if (tracer != null) tracer.spansJson else Json.list(Nil)),
      "jobs" -> (if (tracer != null) tracer.jobsJson else Json.list(Nil))))
    s.stop()
  }
}

/** Records each operation: its times, whether it succeeded, and facts
  * the operation reports about itself. A thrown exception or a wrong
  * result marks the operation failed; the run goes on.
  */
final class Runner {
  var tracer: Tracer = null
  var phase = "setup"
  var traced = false
  val ops = ArrayBuffer[java.util.Map[String, Any]]()
  private var nextOp = 0

  def span[A](name: String)(f: => A): A =
    if (tracer != null) tracer.span(name)(f) else f

  /** Time `body` as one operation, then run `check` on its value outside
    * the timed interval; `check` returns an error for a wrong result.
    */
  def op[A](kind: String, name: String, info: java.util.Map[String, Any])(
      body: => A)(check: A => Option[String]): Option[A] = {
    val id = nextOp
    nextOp += 1
    if (tracer != null) tracer.on = traced
    val t0 = Clock.now()
    val res = try Right(
        if (tracer != null) tracer.operation(id, s"$kind:$name")(body) else body)
      catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.now()
    if (tracer != null) tracer.on = false
    val err = res match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v)
        catch { case NonFatal(e) => Some(s"check failed: ${e.getMessage}") }
    }
    err.foreach(m =>
      System.err.println(s"[perfbench] $kind $name failed: ${m.take(400)}"))
    val rec = Json.obj("id" -> id, "kind" -> kind, "name" -> name,
      "phase" -> phase, "traced" -> traced, "start" -> t0, "end" -> t1,
      "ok" -> err.isEmpty, "error" -> err.map(_.take(400)).orNull)
    rec.putAll(info)
    ops += rec
    res.toOption
  }
}

trait Workload {
  /** Build the inputs and state the timed operations need (timed as part
    * of set-up).
    */
  def substrate(): Unit
  /** Fix the references results are checked against (untimed). */
  def prepareChecks(): Unit
  def warmup(): Unit
  /** One pass of the closed loop. */
  def iteration(i: Int): Unit
  /** Passes every run makes, however long they take. */
  def minIterations: Int = 1
  /** True when the workload has no more input to apply. */
  def exhausted: Boolean = false
  /** Unpersist whatever the benchmark itself cached. */
  def release(): Unit
  /** Seconds spent in each named part of `substrate`. */
  val parts = scala.collection.mutable.LinkedHashMap[String, Double]()
  protected def part[A](name: String)(f: => A): A = {
    val t0 = Clock.now()
    try f finally parts(name) = (Clock.now() - t0) / 1e3
  }

  /** Fingerprints seen, for `--record`. */
  def recorded: java.util.Map[String, Any] = Json.obj()
}
