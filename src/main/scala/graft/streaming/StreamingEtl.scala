package graft.streaming

import graft.model.Trade
import graft.operators.{TradeRules, Validation}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's 3-thread streaming dataflow (tick server -> WebSocket ->
  * SPSC queue -> consumer, reference src/tools/websocket_demo.cpp:11-39)
  * re-expressed as Structured Streaming transforms. The queue/thread/
  * memory-ordering machinery is the micro-batch engine's job and is
  * deliberately not ported (SURVEY.md §1.5).
  *
  * These are source-agnostic DataFrame -> DataFrame stages: bind them to
  * `spark.readStream.format("kafka"|"socket"|"rate")` in production or to a
  * MemoryStream in tests. Each stage works identically on batch frames —
  * the Structured Streaming unification the reference lacks.
  */
object StreamingEtl {

  /** Kafka tick source — the production binding of the reference's
    * WebSocket feed (SURVEY.md §2.1 S2): one topic of JSON tick payloads.
    * Requires the spark-sql-kafka connector on the runtime classpath (not
    * shipped in this build environment; the binding compiles because the
    * format is resolved at runtime). Pair with `decode(...)`.
    *
    * At-least-once by default; exactly-once end-to-end needs checkpointing
    * plus an idempotent sink — vs the reference's at-most-once delivery
    * (drops on parse error, no replay; SURVEY.md §2.7).
    */
  def kafkaSource(
      spark: org.apache.spark.sql.SparkSession,
      bootstrapServers: String,
      topic: String,
      maxOffsetsPerTrigger: Option[Long] = None): DataFrame = {
    val r = spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrapServers)
      .option("subscribe", topic)
    maxOffsetsPerTrigger.foreach(m =>
      r.option("maxOffsetsPerTrigger", m.toString))
    fromKafkaWire(r.load())
  }

  /** Kafka wire shape -> JSON lines: the step shared by the real broker
    * binding above and the broker-free TickWireSource test double, so specs
    * exercise the exact post-broker chain (wire cast -> decode ->
    * dead-letter) the production source runs.
    */
  def fromKafkaWire(wire: DataFrame): DataFrame =
    wire.selectExpr("CAST(value AS STRING) AS value")

  /** Rate-source test feed approximating the reference tick server's
    * ~5K ticks/sec synthetic stream (reference src/feed/TickServer.hpp:
    * 200-242): deterministic symbols, jittered prices, ns timestamps.
    */
  def rateSource(
      spark: org.apache.spark.sql.SparkSession,
      rowsPerSecond: Int = 5000): DataFrame = {
    import org.apache.spark.sql.functions._
    val symbols = graft.sources.TradeGenerator.symbols.map(_._1)
    val symArr = array(symbols.map(lit): _*)
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toString)
      .load()
      .select(
        (col("value") + 1000000L).as("trade_id"),
        (col("value") + 500000L).as("order_id"),
        (unix_micros(col("timestamp")) * 1000L).as("timestamp"),
        (lit(100.0) + pmod(xxhash64(col("value")), lit(1000L)) / 100.0).as("price"),
        (pmod(xxhash64(col("value"), lit(1)), lit(4990L)) + 10).cast("int").as("volume"),
        element_at(symArr, (pmod(xxhash64(col("value"), lit(2)), lit(symbols.size.toLong)) + 1).cast("int")).as("symbol"),
        lit("WSS").as("exchange"),
        when(pmod(xxhash64(col("value"), lit(3)), lit(2L)) === 0, "B").otherwise("S").as("side"),
        lit("M").as("type"),
        lit(false).as("is_pro"))
  }

  /** JSON wire schema of a tick (reference src/feed/TickMessage.hpp:44-54):
    * same 9 fields as the CSV wire format plus `exchange`, with side/type as
    * 1-char strings.
    */
  val tickSchema = Trade.schema

  /** Decode a stream of JSON tick strings (column `value`) into trade rows.
    * Malformed JSON yields a null-fielded struct (PERMISSIVE from_json
    * semantics) — rows without a trade_id are the dead-letter side, exactly
    * the reference's strict decode that counts parse errors and drops the
    * tick (reference src/feed/TickClient.hpp:224-231, TickMessage.hpp:120-142
    * treats a missing field as failure).
    */
  def decode(jsonLines: DataFrame): DataFrame =
    jsonLines
      .withColumn("t", from_json(col("value"), tickSchema))
      .filter(col("t.trade_id").isNotNull)
      .select(col("t.*"))

  /** Rows that failed JSON decode (dead-letter side of `decode`):
    * unparseable JSON or a tick missing its trade_id.
    */
  def decodeFailures(jsonLines: DataFrame): DataFrame =
    jsonLines.filter(
      from_json(col("value"), tickSchema).getField("trade_id").isNull)

  /** Serialize trades back to the JSON wire format (reference
    * TickMessage.hpp:87-100) — for sinks that speak the tick protocol.
    */
  def encode(trades: DataFrame): DataFrame =
    trades.select(to_json(struct(trades.columns.map(col): _*)).as("value"))

  /** The consumer's hot-path sanity filter (price>0 && volume>0, reference
    * websocket_demo.cpp:108-120) — a subset of the full rule catalog; use
    * `validate` for the complete contract.
    */
  def sanityFilter(trades: DataFrame): DataFrame =
    trades.filter(col("price") > 0 && col("volume") > 0)

  /** Full ordered-rule validation on the stream (same catalog as batch). */
  def validate(trades: DataFrame): Validation.Split =
    Validation.split(trades, TradeRules.rules)

  /** Per-symbol running counts — the consumer's unbounded keyed state
    * (reference websocket_demo.cpp:73-125) as a streaming aggregation
    * (state store replaces the hash map; output mode complete/update).
    */
  def perSymbolCounts(trades: DataFrame): DataFrame =
    trades.groupBy(col("symbol")).agg(
      count(lit(1)).as("n_ticks"),
      sum(col("volume")).as("total_volume"))

  /** Streaming per-symbol indicators with CUSTOM KEYED STATE
    * (flatMapGroupsWithState): each symbol's state is the same bounded
    * buffer the batch single-pass Aggregator uses — running VWAP sums plus
    * the last (period+1) rows by (ts, trade_id) — updated per micro-batch
    * and emitting one refreshed indicator row per symbol per trigger.
    *
    * This is the exact semantics of the reference's stream consumer
    * (unbounded per-symbol hash map, reference
    * src/tools/websocket_demo.cpp:73-125) upgraded to indicator state with
    * bounded memory: state size is O(period) per symbol regardless of
    * stream length, checkpointable by either state-store provider (q55
    * runs it on the default store, q154 on RocksDB).
    */
  def statefulIndicators(
      trades: DataFrame,
      period: Int = 14): org.apache.spark.sql.Dataset[
        graft.operators.IndicatorAggregator.KeyedOut] = {
    import graft.operators.IndicatorAggregator.{Buf, KeyedOut, Point, mergePoint, finishBuf, emptyBuf}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = trades.sparkSession
    import spark.implicits._
    val pts = trades.select(
      col("symbol").as("key"),
      col("timestamp").cast("long").as("ts"),
      col("trade_id").cast("long").as("id"),
      col("price").cast("double").as("price"),
      col("volume").cast("double").as("volume")).as[Point]
    pts.groupByKey(_.key)
      .flatMapGroupsWithState[Buf, KeyedOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: String, rows: Iterator[Point], state: GroupState[Buf]) =>
          var buf = state.getOption.getOrElse(emptyBuf)
          rows.foreach(p => buf = mergePoint(buf, p, period))
          state.update(buf)
          val o = finishBuf(buf, period)
          Iterator.single(KeyedOut(key, o.sma, o.rsi, o.vwap, o.period, o.n_rows))
      }
  }

  /** Keyed streaming sessionization — the stateful form of
    * operators.Sessionize.stats, built on the ORDER-INVARIANT interval
    * algebra (Sessionize.SessionIntervals): each arriving timestamp
    * merges into the key's disjoint session intervals, and a late event
    * that lands between two intervals within `gap` of both MERGES them —
    * the correction a lag()-style running counter can never make, and
    * what lets q92 replay events in arbitrary batch order and still
    * match the batch oracle exactly. State is O(sessions) per key.
    */
  def statefulSessions(
      events: DataFrame,
      gap: Long): org.apache.spark.sql.Dataset[
        graft.operators.Sessionize.SessionSnapshot] = {
    import graft.operators.Sessionize.{mergeTs, SessionIntervals, SessionSnapshot}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = events.sparkSession
    import spark.implicits._
    val rows = events.select(
      col("user_id").cast("long").as("_1"),
      col("ts").cast("long").as("_2")).as[(Long, Long)]
    rows.groupByKey(_._1)
      .flatMapGroupsWithState[SessionIntervals, SessionSnapshot](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[(Long, Long)],
            state: GroupState[SessionIntervals]) =>
          var s = state.getOption.getOrElse(
            SessionIntervals(Vector.empty, Vector.empty, 0L))
          it.foreach { case (_, ts) => s = mergeTs(s, ts, gap) }
          state.update(s)
          Iterator.single(
            SessionSnapshot(key, s.starts.length.toLong, s.nEvents))
      }
  }

  /** ns-since-epoch long -> µs-precision event-time timestamp column.
    * Decimal arithmetic keeps the division exact where a double divide
    * would round: ns epochs (~1.7e18) exceed 2^53, so `/ 1000` through
    * DoubleType can land on the wrong microsecond.
    */
  def toEventTime(nsCol: Column): Column =
    timestamp_micros((nsCol.cast("decimal(38,0)") / lit(1000)).cast("long"))

  /** Event-time windowed counts under a watermark — the bounded-state
    * form of windowed aggregation on an unbounded stream: rows later than
    * `delay` behind the max observed event time are DROPPED (their
    * window's state is already finalized and evicted), rows within the
    * delay merge into still-open windows, and in append output mode each
    * window emits exactly once, when the watermark passes its end. That
    * drop/merge/evict contract is what keeps state O(open windows)
    * forever — without the watermark a 100 TB-scale stream accretes every
    * window it has ever seen.
    *
    * All aggregates are exact integers, so the q116 parity gate can check
    * the emitted relation against a batch oracle that applies the same
    * retention predicate (window end vs final watermark) in SQL.
    * `nsTsCol` is a ns-epoch long (the events wire format); event time is
    * µs-anchored via [[toEventTime]] (the F7 presentation bound).
    */
  def watermarkedWindowCounts(
      df: DataFrame,
      keyCol: String,
      nsTsCol: String,
      idCol: String,
      sumCol: String,
      delay: String = "2 hours",
      windowLen: String = "1 hour"): DataFrame =
    df.withColumn("event_time", toEventTime(col(nsTsCol)))
      .withWatermark("event_time", delay)
      .groupBy(col(keyCol), window(col("event_time"), windowLen))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col(idCol)).as("id_sum"),
        sum(col(sumCol)).as("user_sum"))

  /** Watermark-BOUNDED streaming dedup — the production form of the
    * unbounded `dropDuplicates` the q111 gate drives. Plain
    * dropDuplicates keeps every key it has ever seen (state grows with
    * the stream — fine for a replay, fatal for an unbounded feed);
    * `dropDuplicatesWithinWatermark` evicts a key's state once the
    * watermark passes its event time plus `delay`, so state is bounded
    * by the delay window's key density. The semantic contract that
    * eviction buys: duplicates are suppressed when they arrive within
    * the watermark delay of the first copy, and rows BEHIND the
    * watermark (first copies included) are dropped as late — exactly
    * the at-least-once-redelivery window an upstream broker guarantees.
    * `nsTsCol` is the engine's ns-epoch long; event time is µs-anchored
    * via [[toEventTime]] (the F7 bound).
    */
  def dedupWithinWatermark(
      df: DataFrame,
      keyCols: Seq[String],
      nsTsCol: String,
      delay: String): DataFrame = {
    require(keyCols.nonEmpty, "dedup needs at least one key column")
    df.withColumn("event_time", toEventTime(col(nsTsCol)))
      .withWatermark("event_time", delay)
      .dropDuplicatesWithinWatermark(keyCols)
  }

  /** Stream-stream interval join: left row L matches right row R iff
    * R.eventTime ∈ [L.eventTime + lower, L.eventTime + upper) — the
    * streaming analogue of operators.RangeJoin (purchases joined to the
    * clicks that follow them, while both sides are still flowing).
    *
    * Both sides carry watermarks and the join condition ranges over the
    * event-time columns themselves; Spark derives from (watermark, interval
    * bound) exactly how long each side's rows must be retained in the join
    * state store and evicts behind the watermark — bounded state on an
    * unbounded join, which is what makes this viable at feed scale. Offsets
    * are microseconds (timestamp precision).
    *
    * Column names must be disjoint (same contract as RangeJoin).
    */
  /** @param joinType "inner" (default), "left_outer", or "full_outer".
    *   Left-outer: an unmatched left row emits with null right columns
    *   once the watermark evicts its join state — the eviction-driven
    *   half of the stream-stream contract. NOTE the bucketization
    *   explodes each left row to ≤ 2 bucket copies, so LEFT-outer output
    *   is exact only up to per-copy null rows: a copy unmatched in ITS
    *   bucket emits a null row even when the twin copy matched.
    *   Aggregations that count/min the RIGHT side ignore null rows, so
    *   every grouped consumer (q118's shape) sees exactly the logical
    *   left-outer relation; consumers needing raw outer rows must
    *   post-group by the left key (keep nulls only for keys with no
    *   match anywhere). Full-outer adds the RIGHT-null rows — and those
    *   are EXACT without grouping: the right side carries a single
    *   bucket per row (no explosion), so a right row emits its null row
    *   iff it truly matched nothing (the q148 gate checks both arms).
    */
  def streamIntervalJoin(
      left: DataFrame,
      leftTsCol: String,
      right: DataFrame,
      rightTsCol: String,
      lowerMicros: Long,
      upperMicros: Long,
      watermarkDelay: String,
      joinType: String = "inner"): DataFrame = {
    require(upperMicros > lowerMicros, "empty window")
    require(
      joinType == "inner" || joinType == "left_outer" ||
        joinType == "full_outer",
      s"unsupported join type $joinType")
    require(left.columns.toSet.intersect(right.columns.toSet).isEmpty,
      "left/right column names must be disjoint (rename before joining)")
    // Spark rejects stream-stream joins without an equality predicate (the
    // state store is keyed by it) — same bucketization as the batch
    // RangeJoin: quantize event time into window-width buckets, explode the
    // left row to the <= 2 buckets its window overlaps, join on bucket
    // equality plus the exact interval condition over the event-time
    // columns (which is also what lets Spark compute state eviction bounds
    // from the watermark).
    val width = upperMicros - lowerMicros
    def bucketOf(us: Column) =
      ((us - pmod(us, lit(width))).cast("decimal(38,0)") / lit(width))
        .cast("bigint")
    val l = left.withWatermark(leftTsCol, watermarkDelay)
      .withColumn("__b0", bucketOf(unix_micros(col(leftTsCol)) + lowerMicros))
      .withColumn("__b1", bucketOf(unix_micros(col(leftTsCol)) + upperMicros - 1))
      .withColumn("__lb", explode(array_distinct(array(col("__b0"), col("__b1")))))
      .drop("__b0", "__b1")
    val r = right.withWatermark(rightTsCol, watermarkDelay)
      .withColumn("__rb", bucketOf(unix_micros(col(rightTsCol))))
    l.join(r, expr(
      s"__lb = __rb AND " +
        s"$rightTsCol >= $leftTsCol + INTERVAL $lowerMicros MICROSECOND AND " +
        s"$rightTsCol < $leftTsCol + INTERVAL $upperMicros MICROSECOND"),
      joinType)
      .drop("__lb", "__rb")
  }

  /** Event-time windowed per-symbol OHLC + VWAP with a watermark — the
    * north-star streaming indicator surface (SURVEY.md §2.7): the reference
    * has no event-time reasoning; Spark gives it natively. `timestamp` is ns
    * since epoch -> converted to µs-precision event time for the window.
    */
  def windowedStats(
      trades: DataFrame,
      windowDur: String = "1 minute",
      watermarkDelay: String = "30 seconds"): DataFrame =
    trades
      .withColumn("event_time", toEventTime(col("timestamp")))
      .withWatermark("event_time", watermarkDelay)
      .groupBy(window(col("event_time"), windowDur), col("symbol"))
      .agg(
        min_by(col("price"), col("timestamp")).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), col("timestamp")).as("close"),
        (sum(col("price") * col("volume")) / sum(col("volume"))).as("vwap"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_ticks"))

  /** Deterministic event-time candle bars — the streaming form of
    * [[graft.operators.Ohlc.bars]], sharing the SAME native aggregate
    * ([[graft.functions.OhlcAggExpr]]) so batch and stream run one candle
    * algebra: open/close selected by the unique (timestamp, trade_id)
    * tuple (windowedStats' min_by/max_by on timestamp alone is
    * tie-ambiguous), state is the 72-byte buffer in the state store, and
    * every output is a raw row value or a long sum — which is what lets
    * q86 gate the final stream snapshot against the batch oracle
    * hash-exact. No watermark by default: a replay gate must not drop
    * late rows; production callers pass one to bound state. With a
    * watermark and append output mode each (window, symbol) candle emits
    * exactly once, when the watermark passes its window end; rows behind
    * the watermark drop and the finalized window's state evicts (the
    * q165 gate drives this form).
    */
  def windowedOhlc(
      trades: DataFrame,
      windowDur: String = "1 hour",
      watermarkDelay: Option[String] = None): DataFrame = {
    val et = trades.withColumn("event_time", toEventTime(col("timestamp")))
    val wm = watermarkDelay.fold(et)(et.withWatermark("event_time", _))
    wm.groupBy(window(col("event_time"), windowDur), col("symbol"))
      .agg(
        graft.functions.OhlcAggExpr.ohlcBar(
          col("timestamp"), col("trade_id"), col("price")).as("__bar"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_ticks"))
      .select(
        col("window"), col("symbol"),
        col("__bar.open").as("open"),
        col("__bar.high").as("high"),
        col("__bar.low").as("low"),
        col("__bar.close").as("close"),
        col("volume"), col("n_ticks"))
  }
}
