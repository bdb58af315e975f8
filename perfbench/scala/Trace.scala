package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as the listener's job times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into a layer, made by the benchmark. `op` groups the
  * spans of one operation; `parent` is -1 for an operation's root span.
  */
final case class Span(id: Int, op: Int, parent: Int, name: String,
    start: Double, end: Double)

/** One Spark job, attributed to the span that was open when it started.
  * `site` is the name of the job's final stage, e.g.
  * `localCheckpoint at Checkpoints.scala:68`.
  */
final class JobRec(val id: Int, val span: Int, val start: Double,
    val site: String, val stageIds: Seq[Int]) {
  @volatile var end: Double = start
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuMs = 0.0
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** Benchmark-side tracing: spans around the layer calls the benchmark
  * makes, and a SparkListener that records one child record per job.
  * Spans are recorded only while `on`; jobs only when they carry the
  * span id the benchmark sets as a local property, so untraced work
  * leaves no records.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Prop = "perfbench.span"
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, JobRec]()
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var op = -1

  def operation[A](opId: Int, name: String)(f: => A): A = {
    op = opId
    span(name)(f)
  }

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Prop, id.toString)
      val t0 = Clock.now()
      try f
      finally {
        val t1 = Clock.now()
        stack = stack.tail
        sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
        spans += Span(id, op, parent, name, t0, t1)
      }
    }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach {
      s =>
        val last = e.stageInfos.maxBy(_.stageId)
        val j = new JobRec(e.jobId, s.toInt, e.time.toDouble,
          last.name.takeWhile(_ != '\n'), e.stageIds)
        jobs.put(e.jobId, j)
        e.stageIds.foreach(stageToJob.put(_, j))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageToJob.get(e.stageInfo.stageId)).foreach { j =>
      val m = e.stageInfo.taskMetrics
      j.synchronized {
        j.stages += 1
        j.tasks += e.stageInfo.numTasks
        if (m != null) {
          j.runMs += m.executorRunTime
          j.cpuMs += m.executorCpuTime / 1e6
          j.gcMs += m.jvmGCTime
          j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          j.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
        }
      }
    }

  /** Block until every posted listener event has been handled. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spansJson: java.util.List[Any] = Json.list(spans.toSeq.map { s =>
    Json.obj("id" -> s.id, "op" -> s.op, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.start, "end" -> s.end)
  })

  def jobsJson: java.util.List[Any] = {
    import scala.jdk.CollectionConverters._
    Json.list(jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start" -> j.start,
        "end" -> j.end, "site" -> j.site, "stages" -> j.stages,
        "tasks" -> j.tasks, "run_ms" -> j.runMs, "cpu_ms" -> j.cpuMs,
        "gc_ms" -> j.gcMs, "shuffle_write_bytes" -> j.shuffleWriteBytes,
        "shuffle_read_bytes" -> j.shuffleReadBytes,
        "fetch_wait_ms" -> j.fetchWaitMs, "spill_bytes" -> j.spillBytes)
    })
  }
}

/** Minimal JSON building on the Jackson that ships with Spark. */
object Json {
  import com.fasterxml.jackson.databind.ObjectMapper
  private val mapper = new ObjectMapper()

  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
  def list(xs: Seq[Any]): java.util.List[Any] = {
    val l = new java.util.ArrayList[Any]()
    xs.foreach(l.add)
    l
  }
  def write(path: String, v: Any): Unit =
    mapper.writerWithDefaultPrettyPrinter()
      .writeValue(new java.io.File(path), v)
  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))
}
