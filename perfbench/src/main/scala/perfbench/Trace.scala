package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spans around every call the benchmark makes into a layer, plus the
  * benchmark's own Spark listener. Spans and job records
  * stay in memory; `report` turns them into per-layer metrics and
  * `writeSpans` writes the raw spans out at exit.
  *
  * With tracing off every method is a plain call: no listener is
  * registered and no span is kept, so untraced runs measure the engine
  * alone.
  */
final class Tracer(val on: Boolean) {

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)
  final case class Op(id: Int, kind: String, startNs: Long, endNs: Long)
  final case class Job(startMs: Long, endMs: Long, tasks: Int,
      shuffleBytes: Long, spillBytes: Long)

  val spans = mutable.ArrayBuffer[Span]()
  val ops = mutable.ArrayBuffer[Op]()
  private var stack = List.empty[Int]
  private var currentOp = -1

  /** Time one schedule operation of kind `kind`; returns its duration in
    * ms. Jobs that start inside the window are charged to it (the client
    * runs one operation at a time).
    */
  def op(kind: String)(body: => Unit): Double = {
    val id = ops.size
    currentOp = id
    val t0 = System.nanoTime()
    try body finally currentOp = -1
    val t1 = System.nanoTime()
    if (on) ops += Op(id, kind, t0, t1)
    (t1 - t0) / 1e6
  }

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      spans += Span(id, parent, currentOp, name, t0, t0)
      try body
      finally {
        spans(id) = spans(id).copy(endNs = System.nanoTime())
        stack = stack.tail
      }
    }

  // ---- listeners -----------------------------------------------------

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      jobs.put(e.jobId, Job(e.time, -1L, e.stageInfos.map(_.numTasks).sum, 0L, 0L))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach { m =>
        Option(stageJob.get(e.stageId)).foreach { jid =>
          jobs.computeIfPresent(jid, (_, j) => j.copy(
            shuffleBytes = j.shuffleBytes + m.shuffleWriteMetrics.bytesWritten,
            spillBytes = j.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled))
        }
      }
  }

  def register(spark: SparkSession): Unit =
    if (on) spark.sparkContext.addSparkListener(sparkListener)

  /** Wait until every started job has ended on the listener side. */
  def drain(): Unit = if (on) {
    val deadline = System.currentTimeMillis() + 10000
    import scala.jdk.CollectionConverters._
    while (jobs.values.asScala.exists(_.endMs < 0) &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
    Thread.sleep(300) // trailing task-end events
  }

  // ---- reduction -----------------------------------------------------

  /** Jobs, tasks, in-job ms, dead ms, shuffle and spill bytes, each the
    * median over the operations of one kind.
    */
  def sparkLayer(kind: String, opsOfKind: Seq[(Long, Long)]): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val all = jobs.values.asScala.toVector.filter(_.endMs >= 0)
    val per = opsOfKind.map { case (s, e) =>
      val js = all.filter(j => j.startMs >= s && j.startMs <= e)
      val covered = Stats.unionMs(js.map(j => (math.max(j.startMs, s),
        math.min(j.endMs, e))))
      Map[String, Double]("jobs" -> js.size.toDouble, "tasks" -> js.map(_.tasks).sum.toDouble,
        "job_ms" -> covered.toDouble, "dead_ms" -> ((e - s) - covered).toDouble,
        "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> js.map(_.spillBytes).sum.toDouble)
    }
    Seq("jobs", "tasks", "job_ms", "dead_ms", "shuffle_bytes", "spill_bytes")
      .map(k => s"spark.$kind.$k" -> Stats.median(per.map(_(k)))).toMap
  }

  /** Wall-clock windows (epoch ms) of the timed operations of one kind. */
  def windows(kind: String): Seq[(Long, Long)] = {
    val offset = System.currentTimeMillis() - System.nanoTime() / 1000000
    ops.filter(_.kind == kind).toSeq.map(o =>
      (o.startNs / 1000000 + offset, o.endNs / 1000000 + offset))
  }

  /** Median duration (ms) of each span name, over the spans inside timed
    * operations (set-up and warm-up spans are written out but not counted).
    */
  def spanMedians: Map[String, Double] =
    spans.filter(_.op >= 0).groupBy(_.name).map { case (n, ss) =>
      s"${n}_ms" -> Stats.median(ss.map(s => (s.endNs - s.startNs) / 1e6).toSeq)
    }.toMap

  /** The per-layer metrics of a traced run: Spark per operation kind,
    * span medians and the workload's `extra` figures. Empty when tracing
    * is off.
    */
  def report(kinds: Seq[String], extra: Map[String, Double] = Map.empty): Map[String, M] =
    if (!on) Map.empty
    else {
      drain()
      (kinds.flatMap(k => sparkLayer(k, windows(k))).toMap ++ spanMedians ++ extra)
        .map { case (k, v) => k -> M(v, Tracer.unitOf(k)) }
    }

  def writeSpans(file: java.io.File): Unit = if (on) {
    val w = new java.io.PrintWriter(file)
    try spans.foreach(s => w.println(
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""))
    finally w.close()
  }
}

object Tracer {
  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms" else if (k.endsWith("_bytes")) "B" else "count"
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * p / 100.0
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest of p75/p90/p99/p99.9 with at least ten samples beyond
    * it, as (percentile, value); None below forty samples.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    Seq(99.9, 99.0, 90.0, 75.0).find(p => xs.size * (100 - p) / 100 >= 10)
      .map(p => (p, percentile(xs, p)))

  /** Length of the union of closed intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}
