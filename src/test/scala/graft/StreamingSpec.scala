package graft

import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming dataflow (reference src/tools/websocket_demo.cpp re-expressed):
  * MemoryStream of JSON ticks -> decode -> validate -> per-symbol counts,
  * checked through a real micro-batch execution into a memory sink.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def tick(id: Long, symbol: String, price: Double, volume: Int,
      ts: Long = 1700000000000000000L): String =
    s"""{"trade_id":$id,"order_id":$id,"timestamp":${ts + id},""" +
      s""""price":$price,"volume":$volume,"symbol":"$symbol",""" +
      s""""exchange":"WSS","side":"B","type":"M","is_pro":false}"""

  test("decode -> validate -> per-symbol streaming counts") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    input.addData(
      tick(1, "RELIANCE", 2850.0, 100),
      tick(2, "RELIANCE", 2851.0, 50),
      tick(3, "TCS", 3900.0, 75),
      tick(4, "TCS", -1.0, 75), // fails price rule
      "{not valid json") // decode failure -> dropped

    val decoded = StreamingEtl.decode(input.toDF().withColumnRenamed("value", "value"))
    val valid = decoded.filter(col("trade_id").isNotNull)
      .withColumn("reason",
        graft.operators.Validation.reasonColumn(graft.operators.TradeRules.rules))
      .filter(col("reason").isNull)
    val counts = StreamingEtl.perSymbolCounts(valid)

    val query = counts.writeStream
      .format("memory").queryName("sym_counts").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val got = spark.table("sym_counts")
        .select("symbol", "n_ticks", "total_volume")
        .as[(String, Long, Long)].collect().toMap2
      assert(got === Map("RELIANCE" -> ((2L, 150L)), "TCS" -> ((1L, 75L))))

      // late-arriving micro-batch updates state
      input.addData(tick(5, "TCS", 3905.0, 25))
      query.processAllAvailable()
      val got2 = spark.table("sym_counts")
        .select("symbol", "n_ticks", "total_volume")
        .as[(String, Long, Long)].collect().toMap2
      assert(got2("TCS") === ((2L, 100L)))
    } finally query.stop()
  }

  test("windowed OHLC/VWAP with watermark over event time") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val base = 1700000000000000000L // ns
    val min = 60L * 1000000000L
    input.addData(
      tick(1, "TCS", 100.0, 10, base),
      tick(2, "TCS", 110.0, 10, base + 1000), // same minute
      tick(3, "TCS", 105.0, 10, base + min)) // next minute

    val stats = StreamingEtl.windowedStats(
      StreamingEtl.decode(input.toDF()), "1 minute", "30 seconds")
    val query = stats.writeStream
      .format("memory").queryName("ohlc").outputMode("complete").start()
    try {
      query.processAllAvailable()
      val rows = spark.table("ohlc")
        .select("open", "high", "low", "close", "vwap", "n_ticks")
        .as[(Double, Double, Double, Double, Double, Long)]
        .collect().sortBy(_._6).reverse
      assert(rows.length === 2)
      assert(rows(0) === ((100.0, 110.0, 100.0, 110.0, 105.0, 2L)))
      assert(rows(1)._1 === 105.0)
    } finally query.stop()
  }

  test("stateful indicators: custom keyed state converges to batch result") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[String]
    val stats = StreamingEtl.statefulIndicators(
      StreamingEtl.decode(input.toDF()), period = 5)
    val query = stats.writeStream
      .format("memory").queryName("stateful_ind").outputMode("update").start()
    try {
      // feed the worked example (prices 100,102,101,103,105) in TWO batches
      // so state must carry across micro-batches
      input.addData(
        tick(1, "TCS", 100.0, 1), tick(2, "TCS", 102.0, 1))
      query.processAllAvailable()
      input.addData(
        tick(3, "TCS", 101.0, 1), tick(4, "TCS", 103.0, 1),
        tick(5, "TCS", 105.0, 1))
      query.processAllAvailable()
      val last = spark.table("stateful_ind")
        .filter($"n_rows" === 5)
        .select("sma", "rsi", "vwap", "period")
        .as[(Double, Double, Double, Int)].head()
      assert(math.abs(last._1 - 102.2) < 1e-9)
      assert(math.abs(last._2 - (100.0 - 100.0 / 7.0)) < 1e-9)
      assert(last._4 === 5)
      // and it matches the batch single-pass Aggregator on the same data
      val batch = Seq(
        ("TCS", 1L, 1L, 100.0, 1.0), ("TCS", 2L, 2L, 102.0, 1.0),
        ("TCS", 3L, 3L, 101.0, 1.0), ("TCS", 4L, 4L, 103.0, 1.0),
        ("TCS", 5L, 5L, 105.0, 1.0))
        .toDF("symbol", "timestamp", "trade_id", "price", "volume")
      val b = graft.operators.IndicatorAggregator.summary(
        batch, "symbol", "price", Some("volume"), "timestamp", "trade_id", 5)
        .select("sma", "rsi").as[(Double, Double)].head()
      assert(math.abs(last._1 - b._1) < 1e-9)
      assert(math.abs(last._2 - b._2) < 1e-9)
    } finally query.stop()
  }

  test("encode round-trips through decode") {
    val trades = graft.sources.TradeGenerator.generate(spark, 10)
    val json = StreamingEtl.encode(trades)
    val back = StreamingEtl.decode(json)
    assert(back.count() === 10)
    assert(back.agg(sum("volume")).as[Long].head() ===
      trades.agg(sum("volume")).as[Long].head())
  }

  test("decode failures surface as dead-letter rows") {
    val df = Seq(tick(1, "TCS", 1.0, 1), "garbage", "{\"a\":").toDF("value")
    assert(StreamingEtl.decodeFailures(df).count() === 2)
  }

  test("streaming dedup drops duplicate keys within and across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000000L // ns
    val input = MemoryStream[(Long, String, Long)]
    val deduped = StreamingEtl.dedupWithinWatermark(
      input.toDF().toDF("trade_id", "symbol", "ts_ns"),
      Seq("trade_id"), "ts_ns", "10 seconds")

    val query = deduped.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try {
      // in-batch duplicate (id 1) and distinct ids 1,2
      input.addData((1L, "A", t0), (2L, "A", t0 + 1000000000L), (1L, "A", t0))
      query.processAllAvailable()
      assert(spark.table("dedup_out").select("trade_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L))

      // cross-batch duplicate (id 2, later event time but inside the
      // watermark horizon) is dropped; new id 3 passes
      input.addData((2L, "A", t0 + 2000000000L), (3L, "B", t0 + 3000000000L))
      query.processAllAvailable()
      assert(spark.table("dedup_out").select("trade_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally query.stop()
  }

  test("stream-stream interval join matches purchases to following clicks") {
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000000L // µs
    def ts(offsetS: Long) = new java.sql.Timestamp((t0 + offsetS * 1000000L) / 1000)
    val purchases = MemoryStream[(Long, java.sql.Timestamp)]
    val clicks = MemoryStream[(Long, java.sql.Timestamp)]
    val joined = StreamingEtl.streamIntervalJoin(
      purchases.toDF().toDF("p_id", "p_ts"),
      "p_ts",
      clicks.toDF().toDF("c_id", "c_ts"),
      "c_ts",
      lowerMicros = 0L,
      upperMicros = 60L * 1000000, // 1 minute
      watermarkDelay = "2 minutes")
    val query = joined.writeStream
      .format("memory").queryName("interval_join").outputMode("append").start()
    try {
      // purchase at t+0 and t+300; clicks at t+30 (in window of first),
      // t+90 (in no window), t+330 (in window of second)
      purchases.addData((1L, ts(0)), (2L, ts(300)))
      clicks.addData((10L, ts(30)), (11L, ts(90)), (12L, ts(330)))
      query.processAllAvailable()
      val got = spark.table("interval_join")
        .select("p_id", "c_id").as[(Long, Long)].collect().toSet
      assert(got === Set((1L, 10L), (2L, 12L)))
      // a later micro-batch joins against retained state of the other side
      clicks.addData((13L, ts(340)))
      query.processAllAvailable()
      val got2 = spark.table("interval_join")
        .select("p_id", "c_id").as[(Long, Long)].collect().toSet
      assert(got2 === Set((1L, 10L), (2L, 12L), (2L, 13L)))
    } finally query.stop()
  }

  test("q117 file-replay stream-stream join equals the batch range join at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q117_stream_interval_join")(spark, dir)
      .collect().toSeq.map(_.toString).sorted
    // batch expectation through the engine's own bucketized range join
    // (oracle-proven by q44), aggregated to the gate's output shape;
    // offsets in ns because events.ts is the normalized ns-long contract
    val ev = Tables.load(spark, dir, "events")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("ts").as("c_ts"))
    val want = graft.operators.RangeJoin.timeRangeJoin(
        p, "p_ts", c, "c_ts", lower = 0L, upper = 300000000000L)
      .groupBy(col("p_id"))
      .agg(count(lit(1)).as("n_clicks"), min(col("c_id")).as("min_click_id"))
      .orderBy(col("p_id"))
      .collect().toSeq.map(_.toString).sorted
    assert(got.nonEmpty && got === want)
  }

  test("curation text metrics compose into a streaming pipeline") {
    // TextAnalysis metrics are pure (stateless) Columns, so the curation
    // gate drops into readStream -> filter -> agg unchanged: stream docs,
    // quality-gate them, count survivors per predicted language
    import graft.operators.TextAnalysis
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val docs = input.toDF().toDF("doc_id", "text")
    val gated = docs
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("lang_pred", TextAnalysis.langId(col("text")))
      .filter(col("quality") >= 0.3)
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n"))
    val q = gated.writeStream.format("memory").queryName("stream_curation")
      .outputMode("complete").start()
    try {
      input.addData(
        (1L, "the quick brown fox is in the house and it is that big"),
        (2L, "el perro que corre en la casa y no se va de los campos"),
        (3L, "!!! !!! !!! !!!"))  // repetitive pure punctuation: gated out
      q.processAllAvailable()
      input.addData((4L, "the cat and the dog are in that tree for a while"))
      q.processAllAvailable()
      val out = spark.table("stream_curation").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out.getOrElse("en", 0L) == 2L, out.toString)
      assert(out.getOrElse("es", 0L) == 1L, out.toString)
      assert(!out.contains("und") || out("und") == 0L,
        "gated-out doc leaked: " + out)
    } finally q.stop()
  }

  test("PII redaction is streamable: stateless scrub inside a micro-batch sink") {
    // redactPii is a pure Column, so it drops into readStream unchanged —
    // the scrub-before-persist stage of a streaming ingestion pipeline
    import graft.operators.CurationFilters
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val scrubbed = input.toDF().toDF("doc_id", "text")
      .withColumn("text", CurationFilters.redactPii(col("text")))
    val q = scrubbed.writeStream.format("memory").queryName("stream_pii")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, "mail a@b.io from 10.0.0.1 dial 555-123-4567"),
        (2L, "nothing sensitive here"))
      q.processAllAvailable()
      val out = spark.table("stream_pii").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out(1L) == "mail <EMAIL> from <IP> dial <PHONE>", out(1L))
      assert(out(2L) == "nothing sensitive here")
    } finally q.stop()
  }

  test("windowedOhlc across micro-batches equals the batch candle aggregate") {
    implicit val sqlCtx = spark.sqlContext
    // (symbol, ts ns, trade_id, price, volume); two 1-minute windows,
    // rows arrive across three batches in non-chronological order
    val base = 1700000000000000000L
    val min = 60_000_000_000L // 1 minute in ns
    val all = Seq[(String, Long, Long, Double, Long)](
      ("A", base + 5, 1L, 10.0, 2L),
      ("A", base + 30, 2L, 12.0, 1L),
      ("A", base + min + 3, 3L, 9.0, 4L),
      ("B", base + 7, 4L, 5.0, 3L),
      ("A", base + 1, 5L, 11.0, 2L), // arrives LAST, is the true open
      ("B", base + 2, 6L, 6.0, 1L)
    )
    val input = MemoryStream[(String, Long, Long, Double, Long)]
    val stream = input.toDF()
      .toDF("symbol", "timestamp", "trade_id", "price", "volume")
    val out = StreamingEtl.windowedOhlc(stream, "1 minute")
    val q = out.writeStream.format("memory").queryName("stream_ohlc")
      .outputMode("update").start()
    try {
      Seq(all.take(2), all.slice(2, 4), all.drop(4)).foreach { batch =>
        input.addData(batch: _*)
        q.processAllAvailable()
      }
      val streamed = graft.queries.MarketAnalytics.finalSnapshot(
          spark.table("stream_ohlc"), Seq("window", "symbol"), "n_ticks")
        .select(
          col("symbol"), unix_micros(col("window.start")).as("ws"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n_ticks"))
        .as[(String, Long, Double, Double, Double, Double, Long, Long)]
        .collect().toSet
      val batch = graft.operators.Ohlc.bars(
          all.toDF("symbol", "timestamp", "trade_id", "price", "volume")
            .withColumn("bucket", unix_micros(window(
              StreamingEtl.toEventTime(col("timestamp")), "1 minute")
              .getField("start"))),
          Seq("symbol"), "bucket", "price", "volume",
          Seq("timestamp", "trade_id"))
        .select("symbol", "bucket", "open", "high", "low", "close",
          "volume", "n_ticks")
        .as[(String, Long, Double, Double, Double, Double, Long, Long)]
        .collect().toSet
      assert(streamed == batch, s"stream:\n$streamed\nbatch:\n$batch")
      // spot-check the late-arriving open made it into the candle
      assert(streamed.exists(r => r._1 == "A" && r._3 == 11.0))
    } finally q.stop()
  }

  test("statefulSessions: late bridging event merges two sessions exactly") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long)]
    val stream = input.toDF().toDF("user_id", "ts")
    val out = StreamingEtl.statefulSessions(stream, gap = 100L)
    val q = out.writeStream.format("memory").queryName("stream_sessions")
      .outputMode("update").start()
    def snapshot(): Map[Long, (Long, Long)] =
      graft.queries.MarketAnalytics.finalSnapshot(
          spark.table("stream_sessions"), Seq("user_id"), "n_events")
        .select("user_id", "n_sessions", "n_events")
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
    try {
      // batch 1: two sessions — {0,50} and {220,300}, 170 apart
      input.addData((1L, 0L), (1L, 50L), (1L, 220L), (1L, 300L))
      q.processAllAvailable()
      assert(snapshot()(1L) == ((2L, 4L)))
      // batch 2: a LATE event at 130 bridges both (80 from 50, 90 from
      // 220) — the two sessions were really one; a lag-counter can't
      // make this correction
      input.addData((1L, 130L), (2L, 1000L))
      q.processAllAvailable()
      assert(snapshot() == Map(1L -> ((1L, 5L)), 2L -> ((1L, 1L))))
      // batch algebra agreement on the full multiset, any arrival order
      val batch = graft.operators.Sessionize.stats(
          Seq((1L, 0L), (1L, 50L), (1L, 220L), (1L, 300L), (1L, 130L),
            (2L, 1000L))
            .toDF("user_id", "ts"),
          "user_id", "ts", Seq("ts"), gap = 100L)
        .as[(Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3))).toMap
      assert(snapshot() == batch)
    } finally q.stop()
  }

  test("Trigger.AvailableNow drains the backlog in bounded batches, then stops") {
    // The batch-catchup delivery mode (SURVEY §2.7): process everything
    // available at start in rate-limited micro-batches, then terminate on
    // its own — the nightly-catchup / bounded-backfill trigger, vs the
    // continuous processAllAvailable the other specs use. maxFilesPerTrigger
    // keeps applying, so the backlog drains in >= 3 batches, not one.
    val root = java.nio.file.Files.createTempDirectory("graft-avnow")
    val in = java.nio.file.Files.createDirectories(root.resolve("in"))
    (1 to 3).foreach { i =>
      java.nio.file.Files.writeString(
        in.resolve(s"f$i.json"),
        ((i * 10) until (i * 10 + 5)).map(j =>
          s"""{"k":$j}""").mkString("\n"))
    }
    val stream = spark.readStream.schema("k LONG")
      .option("maxFilesPerTrigger", 1).json(in.toString)
    val q = stream.writeStream.format("memory").queryName("avnow")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    // self-terminating: no stop() call — awaitTermination must return true
    assert(q.awaitTermination(60000), "AvailableNow query did not self-stop")
    val got = spark.table("avnow").as[Long].collect().sorted
    assert(got.toSeq === (1 to 3).flatMap(i => (i * 10) until (i * 10 + 5)))
    assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
      "backlog was not drained in rate-limited batches")
  }

  test("toEventTime is exact on ns epochs beyond double precision") {
    // 2^53 ns ~ 104 days of epoch; real epochs (~1.7e18) lose sub-µs
    // precision through a double divide. Pin exactness at the µs level.
    val ns = 1700000000000001000L // ...001 µs exactly
    val got = Seq(ns).toDF("ns")
      .select(unix_micros(StreamingEtl.toEventTime(col("ns"))).as("us"))
      .as[Long].head()
    assert(got === 1700000000000001L)
  }

  implicit private class Tup3Ops(val s: Array[(String, Long, Long)]) {
    def toMap2: Map[String, (Long, Long)] =
      s.map { case (k, a, b) => k -> ((a, b)) }.toMap
  }
}
