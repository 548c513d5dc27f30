package graft
import org.apache.spark.storage.StorageLevel

/** Driver bench: per-query wall times over SPARK_GRAFT_SF_DIR, plus the
  * reference pipeline's stage benchmark at its published configuration
  * (1M synthetic trades; reference README.md:15-19 — parse 904 ms,
  * validate 308 ms, indicators 150 ms, ~10 s end-to-end). Stage isolation
  * mirrors the reference's materialized vectors: each stage's input is
  * persisted before timing the stage's own action.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tables.localSession("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // JVM/codegen/parquet-footer warmup so the first measured query isn't
    // charged ~3s of session startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.load(spark, sfDir, "lineitem").limit(1).collect()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    // a failed query must NOT masquerade as a fast one: record -1
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    var failures = 0
    // Best-of-3 per query: a single pass on a contended machine can read
    // 2x the true time (BENCH_r04 read ~69 s where three independent runs of
    // the same binaries read 35.9-41.6 s). Contention noise is ONE-SIDED —
    // it only ever adds time — so min-of-N is the consistent estimator of
    // the true cost, and it survives a contention WINDOW spanning two of a
    // query's three back-to-back passes where the median reads the inflated
    // middle (observed in round 6: whole-query medians 5-9 s in one run vs
    // 0.4-1.6 s in the immediate re-run, both directions). Caches are
    // cleared between repeats, so repeats measure the same work — the
    // residual warmup (JIT, OS page cache) is shared with the baseline's own
    // warm methodology.
    // The three repeats are INTERLEAVED — the whole suite runs 3 times and
    // each query's estimate is the min across passes — because a
    // contention wave on this machine can span several consecutive
    // seconds: back-to-back per-query reps put all 3 samples inside one
    // wave (BENCH_r06 recorded q84 = 30.8 s where clean-window runs read
    // 0.92-1.07 s), while interleaving separates a query's samples by a
    // full suite pass (~30+ s), decorrelating them from any single wave at
    // identical total cost.
    val reps = 3
    // SPARK_GRAFT_BENCH_ONLY=q24,q26: builder-side focused re-measurement
    // (comma-separated name prefixes); skips the etl1m/stream sections.
    // The driver sets no filter and always runs the full suite.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Seq.empty)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only.exists(n.startsWith) }
    val samples =
      scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]]()
    ordered.foreach { case (name, _) =>
      samples(name) = scala.collection.mutable.ArrayBuffer.empty[Double]
    }
    val failedQueries = scala.collection.mutable.Set[String]()
    for (_ <- 1 to reps) {
      ordered.foreach { case (name, fn) =>
        if (!failedQueries.contains(name)) {
          var failed = false
          val t = timed {
            try fn(spark, sfDir).count() catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              failed = true
            }
          }
          if (failed) failedQueries += name else samples(name) += t
          // queries (and repeats) are independent: drop every cache the
          // query's operators persisted (minhash/jaccard/cosine dedup
          // frames etc.) so 115 queries don't accumulate cached RDDs and
          // each pass pays its own cost — otherwise late-alphabet queries
          // run under eviction/GC pressure from earlier ones' leftovers.
          spark.sharedState.cacheManager.clearCache()
        }
      }
    }
    // min is the headline estimator (contention noise is one-sided); the
    // per-query MEDIANS are recorded alongside in the detail line so
    // comparisons against median/mean-based baselines stay like-for-like.
    val medians = scala.collection.mutable.LinkedHashMap[String, Double]()
    ordered.foreach { case (name, _) =>
      if (failedQueries.contains(name)) { failures += 1; results(name) = -1.0 }
      else {
        val ts = samples(name).sorted
        results(name) = ts.head
        medians(name) = ts(ts.length / 2)
      }
    }

    // Reference-stage benchmark at the baseline's own scale: 1M trades.
    // A ~65 MB CSV is ONE split at the default 128 MB maxPartitionBytes —
    // the whole pipeline would run single-threaded; split small so the
    // stage bench actually uses the cores (a cluster-scale input makes its
    // own parallelism; this knob only matters when input < split size).
    //
    // Each stage reports TWO numbers: `etl1m_<stage>` is steady-state
    // throughput (min of 3 repeat runs over the same persisted input) and
    // `etl1m_<stage>_cold` is the first run, which additionally pays
    // Catalyst analysis + whole-stage-codegen compilation + JVM JIT — a
    // fixed per-plan cost (~0.5-1 s) that does not grow with input size and
    // is amortized to nothing at cluster scale. The reference's stage
    // numbers are AOT-compiled C++ loops over already-materialized vectors
    // (reference README.md:15-19), so steady-state is the apples-to-apples
    // throughput comparison; the cold number is reported alongside for
    // transparency. Profiling evidence: graft.tools.ProfileStages.
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
    def staged(name: String)(body: => Unit): Unit = {
      results(s"${name}_cold") = timed(body)
      results(name) = (1 to 3).map(_ => timed(body)).min
    }
    try if (only.isEmpty) {
      val tmp = java.nio.file.Files.createTempDirectory("graft-bench").toString
      val csvDir = s"$tmp/trades_csv"
      results("etl1m_gen_csv") = timed {
        graft.sources.TradeCsv.write(
          graft.sources.TradeGenerator.generate(spark, 1000000L), csvDir)
      }
      staged("etl1m_parse") {
        graft.sources.TradeCsv.read(spark, csvDir).count()
      }
      val parsed = graft.sources.TradeCsv.read(spark, csvDir)
        .persist(StorageLevel.MEMORY_AND_DISK)
      parsed.count() // warm, untimed
      val validQ = graft.operators.Validation
        .split(parsed, graft.operators.TradeRules.rules).valid
      staged("etl1m_validate") { validQ.count() }
      val valid = validQ.persist(StorageLevel.MEMORY_AND_DISK)
      valid.count() // warm, untimed
      // headline indicators strategy = the single-pass bounded-state
      // aggregator (what BatchEtl.run uses); window/tail variants reported
      staged("etl1m_indicators") {
        graft.operators.IndicatorAggregator.summary(
          valid, "symbol", "price", Some("volume"),
          "timestamp", "trade_id", period = 5).count()
      }
      staged("etl1m_indicators_window") {
        graft.operators.Indicators.summary(
          valid, Seq("symbol"), "price", Some("volume"),
          Seq("timestamp", "trade_id"), period = 5).count()
      }
      staged("etl1m_indicators_tail") {
        graft.operators.Indicators.summaryTail(
          valid, Seq("symbol"), "price", Some("volume"),
          Seq("timestamp", "trade_id"), period = 5).count()
      }
      staged("etl1m_parquet_sink") {
        valid.write.mode("overwrite").parquet(s"$tmp/trades_out.parquet")
      }
      def stage(k: String) = results(k)
      results("etl1m_total") =
        stage("etl1m_parse") + stage("etl1m_validate") +
          stage("etl1m_indicators") + stage("etl1m_parquet_sink")
      results("etl1m_total_cold") =
        stage("etl1m_parse_cold") + stage("etl1m_validate_cold") +
          stage("etl1m_indicators_cold") + stage("etl1m_parquet_sink_cold")
      parsed.unpersist(); valid.unpersist()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] etl1m stage bench failed: ${e.getMessage}")
    }

    // Streaming throughput vs the reference's live tick feed (~5,000
    // ticks/s over one WebSocket connection, BASELINE.md:20): rate source
    // at an oversubscribed 200K rows/s through the sanity-filter +
    // per-symbol stateful counts stages for ~5 s of wall clock; the
    // reported number is ticks actually processed / elapsed. Not a
    // latency metric — micro-batch throughput under sustained load.
    try if (only.isEmpty) {
      val stream = graft.streaming.StreamingEtl.perSymbolCounts(
        graft.streaming.StreamingEtl.sanityFilter(
          graft.streaming.StreamingEtl.rateSource(spark, 200000)))
      val q = stream.writeStream.format("memory").queryName("bench_stream")
        .outputMode("complete").start()
      val t0 = System.nanoTime()
      Thread.sleep(5000)
      q.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val ticks = spark.table("bench_stream")
        .agg(org.apache.spark.sql.functions.sum("n_ticks"))
        .collect()(0).getLong(0)
      q.stop()
      results("stream_ticks_per_s") = ticks / secs
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream bench failed: ${e.getMessage}")
    }

    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    // headline = query-suite wall time ONLY: the etl1m_* stage benchmark is
    // reported per-key but excluded (etl1m_total already sums its stages and
    // etl1m_gen_csv is test-data generation, not engine work), stream_* is a
    // rate not a duration, and failure sentinels (-1) must not subtract
    // from the total.
    val total = results.collect {
      case (k, v) if !k.startsWith("etl1m_") && !k.startsWith("stream_") && v >= 0 => v
    }.sum
    val stageTotal = results.getOrElse("etl1m_total", -1.0)
    // Two lines, compact one LAST: the driver reads a fixed-size tail of
    // stdout, and the full per-query map is ~2.3 KB — large enough that the
    // window used to catch it mid-line, truncating the JSON at the FRONT
    // (BENCH_r01..r04 all parsed null this way). The detail line carries the
    // full map for humans/logs; the final line repeats only the headline
    // numbers plus the 3 slowest queries and stays well under 200 bytes, so
    // any tail window sees a complete JSON object on the last line.
    val top3 = results.toSeq
      .filter { case (k, v) => !k.startsWith("etl1m_") && !k.startsWith("stream_") && v >= 0 }
      .sortBy(-_._2).take(3)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val sfName = sfDir.split('/').lastOption.getOrElse(sfDir)
    val med = medians.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val detailLine =
      s"""{"metric":"bench_detail","unit":"sec","estimator":"min_of_3_interleaved","queries":$qs,"queries_median":$med,"sf":"$sfName"}"""
    // failures is load-bearing: the -1 sentinels are excluded from the sum,
    // so without it a degraded run would read as a speedup. The failed
    // NAMES ride along (capped so the line stays tail-window-safe) so a
    // degraded round is diagnosable from the bench line alone, without a
    // re-run.
    val failedNames = failedQueries.toSeq.sorted.take(12)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // "filtered" marks a SPARK_GRAFT_BENCH_ONLY run: a focused builder
    // re-measurement must never be mistaken for a full-suite total if the
    // line is ever scraped.
    val filteredField =
      if (only.isEmpty) ""
      else ",\"filtered\":true,\"only\":" +
        only.take(12).map("\"" + _ + "\"").mkString("[", ",", "]")
    val metricLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","failures":$failures,"failed":$failedNames,"etl1m_total":${fmt(stageTotal)},"queries":$top3,"sf":"$sfName"$filteredField}"""
    // Both lines print AFTER the session is fully down: Spark's shutdown
    // (temp-shuffle deletes, a benign LocalEndpoint trace) logs enough to
    // push earlier lines out of the tail window. setLogLevel("OFF") sticks
    // for the shutdown hooks too.
    spark.sparkContext.setLogLevel("OFF")
    spark.stop()
    println(detailLine)
    println(metricLine)
    System.out.flush()
    // The driver's stdout-tail parser has recorded parsed:null for five
    // straight rounds because sbt appends a "[success]" trailer after the
    // metric line. Make the metric machine-readable regardless of how the
    // tail is scraped: echo it to stderr and write it to files — one beside
    // the repo root, one in the bench output dir if set.
    System.err.println(metricLine)
    System.err.flush()
    // a FILTERED run must not overwrite the repo-root full-suite record
    // (bench_metric.json is committed as the round's close-out artifact);
    // focused runs still get stderr + the explicit env target
    val metricTargets = Seq(
      if (only.isEmpty) "bench_metric.json" else "",
      sys.env.getOrElse("SPARK_GRAFT_BENCH_METRIC", "")
    ).filter(_.nonEmpty)
    metricTargets.foreach { p =>
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(p),
        (detailLine + "\n" + metricLine + "\n").getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] metric write to $p failed: ${e.getMessage}")
      }
    }
  }
}
