package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming-scale evidence (SURVEY §8): replays the q117 two-source
  * stream-stream interval join at 1x and Nx EVENT volume and measures
  * wall time, match volume, and join STATE size (numRowsTotal from the
  * state-store progress metrics).
  *
  * Scaling model: replica r shifts event ids by r*1e9 and event TIME by
  * r*32 days — replicas are time-disjoint (32 days > the 30-day span +
  * the 300 s join window), so the TRUE pair volume grows exactly
  * linearly — and each side replays as phase-ordered contiguous time
  * slices (6 per replica, one micro-batch per slice per source). Nx data
  * therefore arrives as Nx micro-batches of the SAME per-batch volume:
  * the unbounded-stream model where a corpus grows along the time axis,
  * not in per-instant density.
  *
  * The measured claim: with a watermark delay (2 days) far below the
  * replayed span, join state evicts behind the watermark, so peak state
  * is bounded by per-slice volume + the delay window's event density and
  * stays ~FLAT from 1x to Nx while wall time grows with batch count —
  * bounded state on an unbounded join (streamIntervalJoin's scaladoc
  * claim, measured rather than asserted). The q117/q118 GATES prove the
  * join's row-level correctness against the DuckDB batch oracle with a
  * no-eviction watermark; this tool proves the resource claim with an
  * evicting one. Pair parity (pairs(Nx) == N * pairs(1x), hard require)
  * pins that eviction dropped no true matches: slices are 5 days wide
  * vs a 300 s join window, so every match lands within one batch of its
  * partner, far inside the 2-day eviction bound.
  *
  * Run: sbt "runMain graft.tools.StreamScaleBench [replication...]"
  * (each argument is one scale tier; 1x always runs first as the
  * baseline — e.g. `10 100` measures both decades in one session).
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  * For the 100x tier prefer a smaller base dir (sf0.01): the claim under
  * measurement is the state bound along the TIME axis — 100x replicas =
  * 600 micro-batches per source — and the smaller per-batch volume keeps
  * the 1200-batch replay inside a sane wall clock without changing what
  * is being proven.
  */
object StreamScaleBench {
  private val SlicesPerReplica = 6
  private val ShiftNs = 32L * 86400L * 1000000000L // 32 days
  private val WindowMicros = 300000000L            // 300 s, the q117 window

  def main(args: Array[String]): Unit = {
    val scales = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-streamscalebench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val ev = graft.Tables.load(spark, baseDir, "events")
      .select(col("event_id"), col("event_type"), col("ts"))
      .persist()
    val bounds = ev.agg(min(col("ts")), max(col("ts"))).collect()(0)
    val (minTs, maxTs) = (bounds.getLong(0), bounds.getLong(1))
    val spanNs = maxTs - minTs + 1

    // slice index within a replica comes from the BASE timestamp, so all
    // replicas slice on identical boundaries; phase = replica * 6 + slice
    def phases(scale: Int, eventType: String, idName: String, etName: String)
        : Seq[DataFrame] = {
      val base = ev.filter(col("event_type") === eventType)
      for {
        r <- 0 until scale
        s <- 0 until SlicesPerReplica
      } yield base
        .filter(
          ((col("ts") - minTs) * SlicesPerReplica).cast("long") >= spanNs * s &&
          ((col("ts") - minTs) * SlicesPerReplica).cast("long") < spanNs * (s + 1))
        .select(
          (col("event_id") + lit(r * 1000000000L)).as(idName),
          graft.streaming.StreamingEtl.toEventTime(col("ts") + lit(r * ShiftNs))
            .as(etName))
    }

    /** One parquet file per phase with strictly increasing mtimes, so a
      * maxFilesPerTrigger=1 file stream replays exactly one micro-batch
      * per phase in phase order (the MarketAnalytics writePhases shape,
      * un-memoized — this tool runs each layout once).
      */
    def writePhases(root: String, ps: Seq[DataFrame]): String = {
      val base = new java.io.File(root)
      val streamDir = new java.io.File(base, "stream")
      streamDir.mkdirs()
      ps.zipWithIndex.foreach { case (df, i) =>
        val stage = new java.io.File(base, s"stage_$i").toString
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(streamDir, f"phase_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.setLastModified(1000000000000L + i * 60000L)
      }
      streamDir.toString
    }

    val scratch = {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite)
        java.nio.file.Files.createTempDirectory(shm.toPath, "graft-sscale").toString
      else java.nio.file.Files.createTempDirectory("graft-sscale").toString
    }

    // recentProgress retains only the last ~100 entries — at 100x the
    // replay runs ~600 micro-batches per source, so peak state and batch
    // count must come from a listener that sees EVERY progress event
    class ProgressTracker extends
        org.apache.spark.sql.streaming.StreamingQueryListener {
      @volatile var peak = 0L
      @volatile var last = 0L
      @volatile var batches = 0
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryProgressEvent): Unit = {
        val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
        if (rows > peak) peak = rows
        last = rows
        batches += 1
      }
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener
            .QueryTerminatedEvent): Unit = ()
    }

    def run(scale: Int): (Long, Double, Long, Long, Int) = {
      val lDir = writePhases(s"$scratch/l$scale",
        phases(scale, "purchase", "p_id", "p_et"))
      val rDir = writePhases(s"$scratch/r$scale",
        phases(scale, "click", "c_id", "c_et"))
      val l = spark.readStream
        .schema("p_id BIGINT, p_et TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(lDir)
      val r = spark.readStream
        .schema("c_id BIGINT, c_et TIMESTAMP")
        .option("maxFilesPerTrigger", 1).parquet(rDir)
      val joined = graft.streaming.StreamingEtl.streamIntervalJoin(
          l, "p_et", r, "c_et",
          lowerMicros = 0L, upperMicros = WindowMicros,
          watermarkDelay = "2 days")
        .select(col("p_id"), col("c_id"))
      val qname = s"sscale_$scale"
      val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
      spark.conf.set("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_REPLAY_PARTITIONS", "4"))
      val ckpt = s"$scratch/ckpt_$scale"
      val tracker = new ProgressTracker
      spark.streams.addListener(tracker)
      val t0 = System.nanoTime()
      val q = joined.writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      // listener events are async — drain before reading the tracker
      Thread.sleep(2000)
      spark.streams.removeListener(tracker)
      val pairs = spark.table(qname).count()
      (pairs, wall, tracker.peak, tracker.last, tracker.batches)
    }

    val (p1, w1, peak1, last1, b1) = run(1)
    println(f"[stream-scale] q117 interval join  scale=1   batches=$b1%4d  " +
      f"pairs=$p1%8d  wall=$w1%6.2f s  state_peak=$peak1%7d  state_last=$last1%7d")
    scales.foreach { n =>
      val (pn, wn, peakN, lastN, bn) = run(n)
      println(f"[stream-scale] q117 interval join  scale=$n%-3d batches=$bn%4d  " +
        f"pairs=$pn%8d  wall=$wn%6.2f s  state_peak=$peakN%7d  state_last=$lastN%7d")
      println(f"[stream-scale] ratios at ${n}x: pairs=${pn.toDouble / p1}%.2f  " +
        f"wall=${wn / w1}%.2f  state_peak=${peakN.toDouble / peak1}%.2f " +
        f"(flat peak = bounded state on ${n}x the stream)")
      require(pn == n * p1,
        s"eviction dropped true matches: pairs($n x) = $pn != $n * $p1")
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    spark.stop()
  }
}
