package graft

import graft.streaming.StreamingEtl
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Watermark semantics (§2.7 gate #5, q116). Two layers:
  *
  *  1. A MemoryStream unit drive of [[StreamingEtl.watermarkedWindowCounts]]
  *     with hand-planted rows proving both directions of the contract —
  *     a copy older than the delay is DROPPED, a copy within the delay
  *     MERGES into its still-open window — including the SPARK-24699
  *     subtlety that late-event filtering uses the PREVIOUS batch's
  *     watermark (hence the explicit empty spacer batch, same as the
  *     production gate's phase 2).
  *  2. An end-to-end run of the q116 gate at sf0.001 against the
  *     batch-computed expectation (the oracle's Spark form), pinning the
  *     file-phase replay the driver actually executes.
  */
class WatermarkSpec extends SparkSpec {
  import spark.implicits._

  private val hourUs = 3600L * 1000000L
  private def H(k: Long): Long = (472222L + k) * hourUs // hour-aligned us

  test("late-beyond-delay drops; late-within-delay merges (2h delay)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    // (event_id, ts_ns, user_id, event_type, value, props)
    def row(id: Long, us: Long, key: String = "A") =
      (id, us * 1000L, id * 10L, key, 0.0d, "")

    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // NOTE: do NOT filter out the sentinel key inside the streaming query —
    // a predicate on a grouping key pushes below the EventTimeWatermark
    // node and would drop the sentinels at the source, freezing the
    // watermark (observed: maxEventTime=null). Filter the sink table
    // instead, as the production gate does.
    val query = StreamingEtl.watermarkedWindowCounts(
        stream, "event_type", "ts", "event_id", "user_id")
      .select(col("event_type"),
        col("window.start").cast("long").as("start_s"),
        col("n_events"), col("id_sum"), col("user_sum"))
      .writeStream.format("memory").queryName("wm_unit")
      .outputMode("append").start()
    try {
      // batch 0: three on-time rows; max = H(8)+30m -> wm becomes H(6)+30m
      input.addData(Seq(
        row(1, H(0) + hourUs / 2),
        row(2, H(2) + hourUs / 2),
        row(3, H(8) + hourUs / 2)))
      query.processAllAvailable()
      // batch 1: EMPTY spacer — makes the advanced watermark the
      // "previous batch's" one, so the late filter below actually uses it
      input.addData(Seq.empty[(Long, Long, Long, String, Double, String)])
      query.processAllAvailable()
      // batch 2: one copy 4h+ old (window end H(3) << wm: DROP), one row
      // 15m old (window [H(8),H(9)) still open: MERGE)
      input.addData(Seq(
        row(4, H(2) + hourUs / 2),
        row(5, H(8) + hourUs / 4)))
      query.processAllAvailable()
      // batches 3+4: sentinels push wm past H(9), then trigger emission
      input.addData(Seq(row(-1L, H(16) + hourUs / 2, "WM")))
      query.processAllAvailable()
      input.addData(Seq(row(-2L, H(20), "WM")))
      query.processAllAvailable()
      // final spacer: eviction lags the sentinel by one batch (the same
      // two-watermark asymmetry as the late filter), so force one more
      input.addData(Seq.empty[(Long, Long, Long, String, Double, String)])
      query.processAllAvailable()

      val got = spark.table("wm_unit")
        .as[(String, Long, Long, Long, Long)].collect().toSeq
        .filter(_._1 == "A").map(r => (r._2, r._3, r._4, r._5)).toSet
      val wantedSecs = Set(
        (H(0) / 1000000L, 1L, 1L, 10L),   // untouched
        (H(2) / 1000000L, 1L, 2L, 20L),   // late copy id=4 DROPPED
        (H(8) / 1000000L, 2L, 8L, 80L))   // late row id=5 MERGED
      assert(got === wantedSecs)
    } finally query.stop()
  }

  test("q116 file-phase gate equals the batch retention predicate at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("q116_stream_watermark")(spark, dir)
      .collect().toSeq.map(_.toString).sorted

    // the oracle's Spark form: events UNION the accepted (<=1h-old) copies
    // (Tables.load, not a raw read: the batch side must see the same
    // normalized ns-long ts the gate does, whatever the parquet encoding)
    val events = Tables.load(spark, dir, "events")
    val tsUs = call_function("div", col("ts"), lit(1000L))
    val maxUs = events.agg(max(tsUs)).collect()(0).getLong(0)
    val keep = events.filter(
      col("event_id") % 4 === 1 && tsUs >= maxUs - hourUs)
    val want = events.select("event_type", "ts", "event_id", "user_id")
      .union(keep.select("event_type", "ts", "event_id", "user_id"))
      .groupBy(col("event_type"),
        date_format(StreamingEtl.toEventTime(col("ts")), "yyyy-MM-dd HH:00")
          .as("hour"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        sum(col("user_id")).as("user_sum"))
      .orderBy(col("event_type"), col("hour"))
      .collect().toSeq.map(_.toString).sorted

    assert(got.size === want.size)
    assert(got === want)
  }

  test("TTL dedup: duplicates suppress, late rows drop, stale keys EVICT from state") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    def row(id: Long, us: Long) = (id, us * 1000L, id * 10L, "A", 0.0d, "")
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val query = StreamingEtl.dedupWithinWatermark(
        stream, Seq("event_id"), "ts", "2 hours")
      .select(col("event_id"))
      .writeStream.format("memory").queryName("ttl_unit")
      .outputMode("append").start()
    try {
      def stateRows: Long =
        query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // batch 0: three fresh ids emit; watermark lands at H(1) − 2h
      input.addData(Seq(row(1, H(0)), row(2, H(0) + hourUs / 2), row(3, H(1))))
      query.processAllAvailable()
      assert(stateRows === 3L, s"expected 3 keys in state, got $stateRows")
      // batch 1: a duplicate of id 2 within the delay — suppressed
      input.addData(Seq(row(2, H(0) + hourUs / 2)))
      query.processAllAvailable()
      // batch 2 + spacer: a far-future key advances the watermark past
      // every old key's et + delay; eviction lags one batch
      input.addData(Seq(row(99, H(30))))
      query.processAllAvailable()
      input.addData(Seq.empty[(Long, Long, Long, String, Double, String)])
      query.processAllAvailable()
      // THE bounded-state claim: the three original keys are gone, only
      // the recent key remains — plain dropDuplicates would hold all 4
      assert(stateRows === 1L,
        s"stale dedup state did not evict: $stateRows rows")
      // a first-copy row behind the watermark late-drops entirely
      input.addData(Seq(row(50, H(0))))
      query.processAllAvailable()
      val got = spark.table("ttl_unit").as[Long].collect().sorted.toSeq
      assert(got === Seq(1L, 2L, 3L, 99L),
        s"emissions diverged (dup re-emitted or late row admitted): $got")
    } finally query.stop()
  }

  test("timer-finalized OHLC: one emission per window, late drop, state evicts") {
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    // trades arrive event-shaped; asTrades mapping done inline
    def row(id: Long, us: Long, price: Double) =
      (id, us * 1000L, 1L, "A", price, "")
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .select(
        col("event_type").as("symbol"), col("ts").as("timestamp"),
        col("event_id").as("trade_id"), col("value").as("price"),
        col("user_id").as("volume"))
    // the watermark-finalized candle form the q165 gate drives, under
    // RocksDB like the gate
    val query = StreamingEtl.windowedOhlc(stream, "1 hour", Some("2 hours"))
      .withColumn("window_start_us", unix_micros(col("window.start")))
      .writeStream.format("memory").queryName("ohlc_fin_unit")
      .outputMode("append").start()
    try {
      def stateRows: Long =
        query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // batch 0: two windows open — W0 gets 3 ticks, W1 gets 1
      input.addData(Seq(
        row(1, H(0), 10.0), row(2, H(0) + hourUs / 2, 30.0),
        row(3, H(0) + hourUs / 2 + 1, 20.0), row(4, H(1), 5.0)))
      query.processAllAvailable()
      assert(spark.table("ohlc_fin_unit").count() === 0L,
        "append-mode candle emitted before its window finalized")
      // batch 1 + spacer: a far-future tick advances the watermark past
      // both window ends; candles emit, their state evicts
      input.addData(Seq(row(99, H(30), 1.0)))
      query.processAllAvailable()
      input.addData(Seq.empty[(Long, Long, Long, String, Double, String)])
      query.processAllAvailable()
      val emitted = spark.table("ohlc_fin_unit")
        .select(col("window_start_us"), col("open"), col("high"),
          col("low"), col("close"), col("volume"), col("n_ticks"))
        .as[(Long, Double, Double, Double, Double, Long, Long)]
        .collect().sortBy(_._1).toSeq
      assert(emitted === Seq(
        (H(0), 10.0, 30.0, 10.0, 20.0, 3L, 3L),
        (H(1), 5.0, 5.0, 5.0, 5.0, 1L, 1L)),
        s"finalized candles diverged: $emitted")
      // only the far-future window's buffer remains in the state store
      assert(stateRows <= 2L, s"finalized window state not evicted: $stateRows")
      // a late tick for the finalized W0 must DROP, never reopen/re-emit
      input.addData(Seq(row(7, H(0) + 10, 999.0)))
      query.processAllAvailable()
      assert(spark.table("ohlc_fin_unit").count() === 2L,
        "late tick reopened or re-emitted a finalized window")
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  test("TTL dedup on transformWithState: same contract, timers evict state") {
    implicit val sqlCtx = spark.sqlContext
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(Long, Long, Long, String, Double, String)]
    def row(id: Long, us: Long) = (id, us * 1000L, id * 10L, "A", 0.0d, "")
    val stream = input.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // the q157 gate's form: dropDuplicatesWithinWatermark under RocksDB
    val query = StreamingEtl.dedupWithinWatermark(
        stream, Seq("event_id"), "ts", "2 hours")
      .select(col("event_id"))
      .writeStream.format("memory").queryName("ttl_tws_unit")
      .outputMode("append").start()
    try {
      def stateRows: Long =
        query.lastProgress.stateOperators.map(_.numRowsTotal).sum
      // the q153 MemoryStream drive replayed verbatim under RocksDB
      input.addData(Seq(row(1, H(0)), row(2, H(0) + hourUs / 2), row(3, H(1))))
      query.processAllAvailable()
      assert(stateRows === 3L, s"expected 3 keys in state, got $stateRows")
      input.addData(Seq(row(2, H(0) + hourUs / 2)))
      query.processAllAvailable()
      input.addData(Seq(row(99, H(30))))
      query.processAllAvailable()
      input.addData(Seq.empty[(Long, Long, Long, String, Double, String)])
      query.processAllAvailable()
      // the watermark-driven eviction: three stale keys cleared, one live
      assert(stateRows === 1L,
        s"stale TWS dedup state did not evict: $stateRows rows")
      input.addData(Seq(row(50, H(0))))
      query.processAllAvailable()
      val got = spark.table("ttl_tws_unit").as[Long].collect().sorted.toSeq
      assert(got === Seq(1L, 2L, 3L, 99L),
        s"emissions diverged from the dropDuplicatesWithinWatermark form: $got")
    } finally {
      query.stop()
      prev match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }
}
