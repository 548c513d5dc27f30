package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** One metric value with its unit. */
final case class M(value: Double, unit: String)

/** What a workload run hands back: output-check verdict, operation counts,
  * metrics, and diagnostic lines (tails, sample counts) that are printed
  * but not gated.
  */
final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
    metrics: Map[String, M], notes: Seq[String])

/** Per-run settings shared by the workloads. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Tracer, work: File, small: Boolean, corrupt: Boolean,
    jvmStartMs: Long) {

  /** Schedule length: `seconds` of timed work at a fixed nominal cost per
    * round, so the schedule depends only on the arguments, never on how
    * fast this machine or commit happens to be.
    */
  def rounds(nominalRoundMs: Int, min: Int): Int =
    if (small) 2 else math.max(min, math.ceil(seconds * 1000.0 / nominalRoundMs).toInt)

  def setupS(firstTimedMs: Long): M = M((firstTimedMs - jvmStartMs) / 1000.0, "s")

  /** Used heap after an explicit full collection, in MB: the least of
    * three collections a moment apart, so that garbage released by Spark's
    * background cleaner between them is not counted as live.
    */
  def heapAfterGc(): M = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200); bean.getHeapMemoryUsage.getUsed
    }.min
    M(used / 1048576.0, "MB")
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s $msg")
}

/** Latency samples of one operation type; a failed operation is an
  * infinite sample, so it misses every latency limit.
  */
final class Samples(val name: String) {
  val ms = scala.collection.mutable.ArrayBuffer[Double]()
  var failed = 0L
  def add(v: Double): Unit = ms += v
  def fail(e: Throwable): Unit = {
    System.err.println(s"[perfbench] $name failed: $e")
    failed += 1; ms += Double.PositiveInfinity
  }
  def p50: M = M(Stats.median(ms.toSeq), "ms")
  def note: String = {
    val tail = Stats.tail(ms.toSeq).map { case (p, v) => f"p$p%s=$v%.1f ms" }
      .getOrElse(f"max=${if (ms.isEmpty) 0.0 else ms.max}%.1f ms (too few for a tail)")
    f"$name: n=${ms.size} p50=${p50.value}%.1f ms $tail failed=$failed"
  }
}

object Main {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val cpus = a.get("cpus").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = new File(a("work")).getAbsoluteFile
    val tracer = new Tracer(a.getOrElse("trace", "0") == "1")
    val spark = graft.Tables.localSession("perfbench", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tracer.register(spark)
    val ctx = Ctx(spark, a("seed").toLong, a("seconds").toInt, tracer, work,
      a.getOrElse("size", "full") == "small", a.getOrElse("corrupt", "0") == "1",
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    val out =
      try workload match {
        case "etl_batch"    => EtlBatch.run(ctx)
        case "estate_serve" => EstateServe.run(ctx)
        case other          => sys.error(s"unknown workload $other")
      } finally {
        tracer.drain()
        a.get("spans").foreach(f => tracer.writeSpans(new File(f)))
      }
    ctx.log("workload done")
    spark.stop()
    ctx.log("session stopped")
    out.notes.foreach(n => println(s"[perfbench] $n"))
    println("PERFBENCH " + json(out))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(o: Outcome): String = {
    val ms = o.metrics.toSeq.sortBy(_._1).map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${o.correct},"attempted":${o.attempted},"failed":${o.failed},"metrics":$ms}"""
  }

  /** Run `check` on every (name, ok) pair; collects the failing names. */
  def verdict(checks: Seq[(String, Boolean)]): (Boolean, Seq[String]) = {
    val bad = checks.filterNot(_._2).map(_._1)
    (bad.isEmpty, bad.map(b => s"CHECK FAILED: $b"))
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (files, bytes) under a directory tree. */
  def du(f: File): (Long, Long) =
    if (f.isFile) (1L, f.length)
    else Option(f.listFiles).map(_.map(du).foldLeft((0L, 0L)) {
      case ((a, b), (c, d)) => (a + c, b + d)
    }).getOrElse((0L, 0L))
}
