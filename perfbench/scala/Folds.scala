package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables
import graft.ops.{Checkpoints, Graphs}
import graft.streaming.Streams

/** Min-id connected-component labels by union-find: the reference the
  * maintained labels are checked against. Vertices appear only through
  * a non-loop edge, as in the engine's folds.
  */
object UnionFind {
  def labels(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val n = parent(y); parent(y) = r; y = n }
      r
    }
    edges.foreach { case (a, b) =>
      if (a != b) {
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
    }
    parent.keys.map(v => v -> find(v)).toMap
  }
}

/** Two seeded streams of micro-batches folded into maintained
  * connected-component labels, with a read of the labels after every
  * batch.
  *  - insert stream: co-part edges through `Streams.ccApplyBatch`;
  *  - delete stream: part-tree edges through `Streams.ccApplyDelta`, each
  *    batch inserting one slice and retracting a seeded group of the live
  *    edges (every tree edge is a bridge, so each retraction splits a
  *    component).
  * Each stream's edges are cut into seeded slices, and the state starts
  * as the labels of some of them, built from the union-find reference;
  * each batch then folds one more slice.
  *  - co-part: 128 slices, 112 of them initial. The graph is mature, so
  *    a batch lands inside existing components and measures the fold's
  *    per-batch cost (when a batch merges components it also runs the CC).
  *  - tree: 32 slices, 8 of them initial. The tree is in small pieces,
  *    and a retraction re-colours the components it touches, which runs
  *    the CC every time.
  * Retractions cost about ten inserts, so one pass in `DeletePeriod`
  * folds one.
  */
final class Folds(s: SparkSession, c: PerfBench.Conf, run: Runner)
    extends Workload {
  private val DelGroups = 16
  private val DeletePeriod = 8
  private val Probes = 16

  private final class Stream(val name: String, edges: DataFrame,
      slices: Int, initial: Int) {
    val rows: Array[(Long, Long, Int, Int)] =
      edges.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getInt(3)))
    val order: Seq[Int] =
      new scala.util.Random(c.seed * 31 + name.hashCode).shuffle(
        (0 until slices).toList)
    /** The live edge set the reference is computed from. */
    val liveSet: mutable.Set[(Long, Long)] = mutable.LinkedHashSet(
      rows.toSeq.collect { case (a, b, sl, _)
        if order.take(initial).contains(sl) => (a, b) }: _*)
    val probes: Seq[Long] = new scala.util.Random(c.seed * 17 + name.length)
      .shuffle(rows.flatMap(r => Seq(r._1, r._2)).distinct.sorted.toList)
      .take(Probes)
    var labels: DataFrame = _
    var live: DataFrame = _
    var batch = 0

    def reference: Map[Long, Long] = UnionFind.labels(liveSet)
    def next: Option[Int] = order.drop(initial + batch).headOption
  }

  private var ins: Stream = _
  private var del: Stream = _

  /** (src, dst, slice, dgroup) with the seeded slice and delete group;
    * the delete group is keyed on the unordered pair, so both directions
    * of an edge are retracted together.
    */
  private def stream(edges: DataFrame, slices: Int): DataFrame =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .filter(col("src") =!= col("dst"))
      .withColumn("slice",
        pmod(xxhash64(col("src"), col("dst"), lit(c.seed)), lit(slices))
          .cast("int"))
      .withColumn("dgroup",
        pmod(xxhash64(least(col("src"), col("dst")),
          greatest(col("src"), col("dst")), lit(c.seed + 1)),
          lit(DelGroups)).cast("int"))

  private def treeEdges: DataFrame = {
    val p = Tables.load(s, c.sf, "part")
      .select(col("p_partkey").cast("long").as("id"))
    val pairs = p.filter(col("id") >= 2)
      .select(expr("id div 2").as("x"), col("id").as("y"))
      .join(p.select(col("id").as("x")), Seq("x"), "left_semi")
    pairs.select(col("x").as("src"), col("y").as("dst"))
      .unionAll(pairs.select(col("y").as("src"), col("x").as("dst")))
  }

  private def labelFrame(m: Map[Long, Long]): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("component", LongType, false)))
    val rows = m.toSeq.sorted.map { case (v, l) =>
      org.apache.spark.sql.Row(v, l) }
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .transform(Checkpoints.cut)
  }

  def substrate(): Unit = {
    ins = part("insert_stream")(
      new Stream("insert", stream(Graphs.copartEdges(s, c.sf), 128), 128, 112))
    del = part("delete_stream")(
      new Stream("delete", stream(treeEdges, 32), 32, 8))
    part("initial_state")(initialState())
  }

  private def initialState(): Unit = {
    ins.labels = labelFrame(ins.reference)
    del.labels = labelFrame(del.reference)
    del.live = s.createDataFrame(java.util.Arrays.asList(
        del.liveSet.toSeq.map { case (a, b) => org.apache.spark.sql.Row(a, b) }: _*),
        StructType(Seq(StructField("src", LongType, false),
          StructField("dst", LongType, false))))
      .transform(Checkpoints.cut)
  }

  def prepareChecks(): Unit = ()

  private def check(st: Stream, labels: DataFrame): Option[String] = {
    val got = labels.select(col("id").cast("long"),
      col("component").cast("long")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = st.reference
    if (got == want) None
    else {
      val bad = (got.keySet ++ want.keySet).toSeq.sorted
        .filter(v => got.get(v) != want.get(v)).take(3)
        .map(v => s"$v: got ${got.get(v)}, want ${want.get(v)}")
      Some(s"${st.name} labels differ at ${bad.mkString("; ")}" +
        s" (${got.size} vs ${want.size} vertices)")
    }
  }

  private def read(st: Stream): Unit =
    run.op("read", st.name, Json.obj()) {
      run.span("Streams.read") {
        st.labels.filter(col("id").isin(st.probes: _*))
          .select(col("id").cast("long"), col("component").cast("long"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
    } { got =>
      val want = st.reference.filter { case (v, _) => st.probes.contains(v) }
      if (got == want) None else Some(s"${st.name} probe read: got $got, want $want")
    }

  /** A micro-batch as a stream delivers it: a fresh local frame. */
  private def edgeFrame(rows: Seq[(Long, Long, Int, Int)]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows.map(r =>
        org.apache.spark.sql.Row(r._1, r._2)): _*),
      StructType(Seq(StructField("src", LongType, false),
        StructField("dst", LongType, false))))

  private def foldInsert(sl: Int): Unit = {
    val insRows = ins.rows.toSeq.filter(_._3 == sl)
    val info = Json.obj("edges" -> insRows.length)
    ins.batch += 1
    run.op("insert", s"${ins.name}#${ins.batch}", info) {
      run.span("Streams.ccApplyBatch")(
        Streams.ccApplyBatch(s, ins.labels, edgeFrame(insRows)))
    } { labels =>
      ins.labels = labels
      ins.liveSet ++= insRows.map(r => (r._1, r._2))
      info.put("state_rows", ins.reference.size)
      check(ins, labels)
    }
    read(ins)
  }

  private def foldDelta(sl: Int): Unit = {
    val g = del.batch % DelGroups
    val delRows = del.rows.toSeq.filter(r =>
      r._4 == g && del.liveSet.contains((r._1, r._2)))
    val insRows = del.rows.toSeq.filter(_._3 == sl)
    val info = Json.obj("edges" -> (delRows.length + insRows.length))
    del.batch += 1
    run.op("delete", s"${del.name}#${del.batch}", info) {
      run.span("Streams.ccApplyDelta")(Streams.ccApplyDelta(s, del.labels,
        del.live, edgeFrame(insRows), edgeFrame(delRows)))
    } { case (labels, live) =>
      del.labels = labels
      del.live = live
      del.liveSet --= delRows.map(r => (r._1, r._2))
      del.liveSet ++= insRows.map(r => (r._1, r._2))
      info.put("state_rows", del.reference.size)
      check(del, labels)
    }
    read(del)
  }

  /** Warm the fold paths untimed with one delta on a 15-vertex tree
    * that retracts one edge and inserts another, so both the recolour
    * and the quotient merge run their CC. A small graph compiles the same
    * plans as the real state but converges in fewer rounds.
    */
  def warmup(): Unit = {
    val tree = (2L to 15L).flatMap(v => Seq((v, v / 2), (v / 2, v)))
    val added = Seq((2L, 1L), (1L, 2L))
    val cut = Seq((3L, 1L), (1L, 3L))
    val before = tree.filterNot(added.contains)
    val want = UnionFind.labels(tree.filterNot(cut.contains))
    def frame(es: Seq[(Long, Long)]) = edgeFrame(es.map(e => (e._1, e._2, 0, 0)))
    val labels = labelFrame(UnionFind.labels(before))
    val live = frame(before).transform(Checkpoints.cut)
    run.op("delete", "tree#warmup", Json.obj("edges" -> (added ++ cut).length)) {
      Streams.ccApplyDelta(s, labels, live, frame(added), frame(cut))
    } { case (l, _) =>
      val got = l.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      if (got == want) None else Some(s"tree delta: got $got, want $want")
    }
  }

  def iteration(i: Int): Unit = {
    ins.next.foreach(foldInsert)
    if (i % DeletePeriod == DeletePeriod - 1) del.next.foreach(foldDelta)
  }

  override def minIterations: Int = DeletePeriod

  override def exhausted: Boolean = ins.next.isEmpty || del.next.isEmpty

  def release(): Unit = ()
}
