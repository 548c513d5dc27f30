package graft.queries

import graft.Tables
import graft.operators.{AsOf, Indicators, Ohlc, Sessionize, Validation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's domain semantics (validation with first-failure
  * reasons, CASE signal classification, trailing-window indicators, VWAP,
  * ns-epoch time handling) exercised over the driver-provided `events` and
  * `lineitem` tables, where the DuckDB oracle can check them.
  *
  * The same operator implementations (graft.operators.*) also run over Trade
  * data — see graft.pipeline.BatchEtl and the golden-fixture specs.
  *
  * `events.ts` arrives as an ns-epoch Long whatever the parquet physical
  * type (Tables.load normalizes TIMESTAMP(NANOS)/TIMESTAMP(MICROS,NTZ)
  * alike), mirroring the reference's ns-epoch longs (reference
  * src/model/Trade.hpp:21); presentation-time conversion only. Queries
  * whose arithmetic would silently change meaning under a timestamp type
  * (q31's lag subtraction) additionally assert the contract at entry.
  */
object MarketAnalytics {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(Tables.configure(s), dir, name)

  /** Validation rule catalog for events — same ordered first-failure
    * contract as the trade validator (reference
    * src/validator/TradeValidator.hpp:98-182), adapted to the events schema.
    */
  def eventRules: Seq[Validation.Rule] = Seq(
    Validation.Rule(
      "invalid_type",
      col("event_type").isin("click", "view", "purchase", "signup", "error")),
    Validation.Rule(
      "invalid_value", col("value") > 0 && col("value") < 480),
    Validation.Rule("invalid_user", col("user_id") > 0),
    Validation.Rule("invalid_ts", col("ts") > 0))

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F8: CASE-based classification (reference README.md:239-241 shape).
    "q13_case_classify" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn(
          "signal",
          when(col("value") >= 400, "HIGH")
            .when(col("value") <= 50, "LOW")
            .otherwise("MID"))
        .groupBy(col("event_type"), col("signal"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("signal"))),

    // P1/P2: ordered-rule validation report with dead-letter counts
    // (reference TradeValidator.hpp:198-237).
    "q14_validate" -> ((s, dir) =>
      Validation.report(t(s, dir, "events"), eventRules)
        .orderBy(col("outcome"))),

    // A4: VWAP — all-history sum(p*v)/sum(v) per group
    // (reference TechnicalIndicators.hpp:310-330).
    // Money math in exact decimal, division in IEEE doubles, final round
    // re-anchored at scale 10 — see Relational.decAvg for the rationale.
    "q15_vwap" -> ((s, dir) => {
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(18,4)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(
            (sum(dec(col("l_extendedprice")) * dec(col("l_quantity"))).cast("double") /
              sum(dec(col("l_quantity"))).cast("double")).cast("decimal(38,10)"),
            4).cast("double").as("vwap"),
          round(sum(dec(col("l_quantity"))), 2).cast("double").as("total_vol"))
        .orderBy(col("l_returnflag"))
    }),

    // A2/A3/A5: the full per-group indicator summary (SMA/RSI/VWAP/period)
    // evaluated at the last row of each series — the reference's
    // compute_all output shape (reference TechnicalIndicators.hpp:79-138),
    // keyed by event_type over the ns-ordered events stream.
    "q16_indicators" -> ((s, dir) =>
      Indicators.summary(
          t(s, dir, "events"),
          groupCols = Seq("event_type"),
          priceCol = "value",
          volumeCol = Some("user_id"),
          orderBy = Seq("ts", "event_id"),
          period = 14)
        .select(
          col("event_type"),
          round(col("sma"), 4).as("sma"),
          round(col("rsi"), 4).as("rsi"),
          round(col("vwap"), 4).as("vwap"),
          col("period"),
          col("n_rows"))
        .orderBy(col("event_type"))),

    // Gap-based sessionization (30 min = 1.8e12 ns) per user.
    "q17_sessionize" -> ((s, dir) =>
      Sessionize.stats(
          t(s, dir, "events"),
          keyCol = "user_id",
          tsCol = "ts",
          orderBy = Seq("ts", "event_id"),
          gap = 1800000000000L)
        .orderBy(col("user_id"))),

    // F5/F6: JSON field extraction + aggregation (the tick feed's JSON
    // codec surface, reference src/feed/TickMessage.hpp:62-186).
    "q18_json" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn(
          "k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(
          sum(col("k")).as("sum_k"),
          count(col("k")).as("n_k"))
        .orderBy(col("event_type"))),

    // As-of (backward) join: each purchase event paired with the user's
    // most recent click at-or-before it — the trade->prevailing-quote
    // pattern (see operators.AsOf). Output aggregates the time-since-click
    // so ties at equal ts stay deterministic.
    "q31_asof" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
      val clicks = ev.filter(col("event_type") === "click")
      // type-strict: ts − click_ts must be long ns arithmetic. Were these
      // timestamps, the subtraction would silently become an INTERVAL and
      // /1e9 would be 10^9 off while still matching rows+schema (the round-7
      // wrong-answer). requireNsLong turns that drift into an analysis error.
      Tables.requireNsLong(
          AsOf.joinBackward(
            purchases, clicks,
            keyCols = Seq("user_id"),
            leftTs = "ts", rightTs = "ts",
            payload = Map("ts" -> "click_ts")),
          "ts", "click_ts")
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_purch"),
          count(col("click_ts")).as("n_matched"),
          round((sum(col("ts") - col("click_ts")) / 1e9).cast("decimal(38,10)"),
            3).cast("double").as("total_lag_s"))
        .orderBy(col("user_id"))
    }),

    // F7: ns-epoch -> calendar bucketing at presentation time
    // (reference README.md:242 does to_timestamp(computed_at/1e9)).
    "q19_hourly" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn(
          "hour",
          date_format(
            graft.streaming.StreamingEtl.toEventTime(col("ts")),
            "yyyy-MM-dd HH:00"))
        .groupBy(col("hour"))
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("hour"))),

    // SLIDING event-time windows in batch (q19 is the tumbling form;
    // q116's streaming windows are tumbling too — this gates the
    // overlapping assignment itself): size 2 h / slide 1 h, so every
    // event lands in exactly two epoch-aligned windows. Spark's
    // window() generates the per-row window list map-side (a row enters
    // size/slide groups — that replication factor is the scale knob);
    // the oracle replicates the assignment with an explicit two-element
    // unnest of hour-truncations. All-integer counters.
    "q133_sliding_windows" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(
          window(
            graft.streaming.StreamingEtl.toEventTime(col("ts")),
            "2 hours", "1 hour").as("w"),
          col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("user_id")).as("user_sum"),
          sum(col("event_id")).as("id_sum"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:00").as("win_start"),
          col("event_type"), col("n"), col("user_sum"), col("id_sum"))
        .orderBy(col("win_start"), col("event_type"))),

    // Batch OHLC candles per (event_type, hour) — the batch form of the
    // streaming windowedStats bars. min_by/max_by over the unique
    // (ts, event_id) struct: ONE map-side-combined hash agg, no window,
    // no per-group sort (the plan a 100 TB tick archive needs). All four
    // prices are raw row values (no float arithmetic), volume sums longs —
    // every output column is exact.
    "q80_ohlc_bars" -> ((s, dir) =>
      Ohlc.bars(
          t(s, dir, "events")
            .withColumn("hour", date_format(
              graft.streaming.StreamingEtl.toEventTime(col("ts")),
              "yyyy-MM-dd HH:00")),
          keyCols = Seq("event_type"),
          bucketCol = "hour",
          priceCol = "value",
          volumeCol = "user_id",
          orderBy = Seq("ts", "event_id"))
        .orderBy(col("event_type"), col("hour"))),

    // §2.7 gate: batch/stream algebra equality proven through the driver's
    // own DuckDB oracle, not just ScalaTest. The events table is replayed
    // as a REAL Structured Streaming run — file source split into 4 files
    // read one per micro-batch, flatMapGroupsWithState carrying O(period)
    // state per key across batches (StreamingEtl.statefulIndicators, the
    // same Buf algebra as the batch aggregate) — and the final state
    // snapshot is returned in q16's exact output shape against q16's
    // oracle SQL. mergePoint's arrival-order invariance (spec-pinned) is
    // what makes the replay order irrelevant.
    "q55_stream_parity" -> ((s, dir) =>
      indicatorReplay(s, dir, "q55_snapshot")),

    // §2.8/§2.7 gate: q55's indicator state machine
    // (statefulIndicators, flatMapGroupsWithState) replayed under the
    // RocksDB state-store provider against q55's verbatim oracle, so the
    // keyed indicator state is proven provider-independent.
    "q154_stream_indicators_tws" -> ((s, dir) =>
      withRocksDb(s) { indicatorReplay(s, dir, "q154_tws") }),

    // Inter-arrival gap profile per event_type — the feed-health
    // counterpart of q17's per-user sessions: consecutive gaps in
    // (ts, event_id) order, all-integer stats, mean as one IEEE division
    // of exact int64s (bit-identical in any engine). Gaps are anchored
    // at µs granularity (ts div 1000) because the oracle engine reads
    // TIMESTAMP(NANOS) parquet at µs precision — the same ns→µs
    // presentation bound as F7; the operator itself is unit-agnostic
    // (the specs drive it at full ns).
    "q89_gap_stats" -> ((s, dir) =>
      Sessionize.gapStats(
          t(s, dir, "events")
            .withColumn("ts_us", call_function("div", col("ts"), lit(1000L))),
          keyCol = "event_type",
          tsCol = "ts_us",
          orderBy = Seq("ts_us", "event_id"))
        .orderBy(col("event_type"))),

    // §2.7 gate #3: SESSION algebra batch/stream parity. The streaming
    // side runs the order-invariant interval algebra
    // (Sessionize.SessionIntervals) — sessions depend only on the
    // MULTISET of timestamps, so the arbitrary batch order of the replay
    // (including a late event bridging two intervals into one) converges
    // exactly to q17's batch oracle, with no ordering assumption at all.
    "q92_stream_sessions" -> ((s, dir) =>
      sessionReplay(s, dir, "q92_snapshot")),

    // §2.7/§2.8 gate: q92's session interval algebra
    // (statefulSessions) replayed under the RocksDB state-store
    // provider — identical replay, q17's verbatim oracle by reference.
    "q160_stream_sessions_tws" -> ((s, dir) =>
      withRocksDb(s) { sessionReplay(s, dir, "q160_tws") }),

    // §2.7/§2.8 gate: q86's CANDLE replay (windowedOhlc — the native
    // OhlcAggExpr buffer in the state store) under the RocksDB
    // state-store provider. Identical replay and projection, q80's
    // verbatim batch oracle by reference.
    "q164_stream_ohlc_tws" -> ((s, dir) =>
      withRocksDb(s) { ohlcReplay(s, dir, "q164_tws") }),

    // §2.7/§2.8 gate: APPEND-MODE candles finalized by the watermark
    // (windowedOhlc with a 2 h delay) under the RocksDB state-store
    // provider — the watermark-bounded production form of q86/q164:
    // each (symbol, window) emits exactly once when the watermark
    // passes its end, late rows drop, the finalized window's state
    // evicts. Driven with q116's sentinel phase design
    // (late-drop class, accepted-late duplicate class, two
    // watermark-advancing sentinels + an empty spacer for the
    // one-batch watermark lag); the oracle is the batch OHLC over
    // (events UNION accepted copies) — a double emission, a reopened
    // finalized window, a dropped live row, or a kept late row all
    // break rows or sums.
    "q165_stream_ohlc_finalize" -> ((s, dir) => withRocksDb(s) {
      replayPhases(s, "watermark", "q165_ohlc_fin", dir,
          watermarkPhases(s, dir),
          stream => graft.streaming.StreamingEtl.windowedOhlc(
            asTrades(stream), "1 hour", Some("2 hours")))
        .filter(col("symbol") =!= "wm_probe")
        .select(
          col("symbol").as("event_type"),
          date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
          col("open"), col("high"), col("low"), col("close"),
          col("volume"), col("n_ticks"))
        .orderBy(col("event_type"), col("hour"))
    }),

    // §2.7 gate #2: the CANDLE algebra's batch/stream parity, proven the
    // same way q55 proves the indicator algebra's — the events table is
    // replayed as a real multi-batch Structured Streaming run through
    // windowedOhlc (the SAME native OhlcAggExpr the batch q80 runs, its
    // buffer now living in the state store across batches) and the final
    // per-(window, symbol) snapshot is checked against q80's verbatim
    // batch oracle. No watermark: a replay must not drop late rows.
    "q86_stream_ohlc_parity" -> ((s, dir) =>
      ohlcReplay(s, dir, "q86_snapshot")),

    // §2.7 gate #4: STREAMING DEDUP through the driver's oracle. Every
    // id%5==0 event is planted as an exact second copy before the
    // re-shard, so the copies land in arbitrary micro-batches; the
    // stateful dropDuplicates must suppress each duplicate whether it
    // arrives in the same batch or a later one. In update mode the
    // memory sink then holds every event_id exactly once, and because
    // the planted copies are verbatim rows, the deduped stream equals
    // the ORIGINAL events table — which is exactly what the oracle
    // aggregates.
    "q111_stream_dedup" -> ((s, dir) =>
      replayRaw(s, dir, "dedup", "q111_dedup",
          prep = ev => ev.union(ev.filter(col("event_id") % 5 === 0)),
          build = stream => stream.dropDuplicates("event_id")
            .select(col("event_type"), col("event_id")))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"))
        .orderBy(col("event_type"))),

    // §2.7 gate: STREAM-STATIC dimension enrichment — the canonical
    // "enrich the feed against a slowly-changing dim table" shape
    // (reference analogue: the feed's per-symbol joins the README's
    // postgres queries do after landing; here the dim never lands). The
    // events stream replays across 4 micro-batches and inner-joins a
    // BATCH customer⋈nation dim inside the streaming query — the static
    // side broadcasts (no state store involvement: stream-static joins
    // are stateless, each micro-batch probes the same built relation),
    // then keyed counters aggregate per nation in update mode. The
    // final snapshot must equal the all-batch join+aggregate, checked
    // against the DuckDB oracle. All-integer counters (count + id sums)
    // so the parity is exact; countDistinct is deliberately absent
    // (unsupported on streams — the HLL sketch family is the streaming
    // answer to distincts, cf. q126).
    "q131_stream_static_enrich" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .join(t(s, dir, "nation"),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_name"))
      replaySnapshot(s, dir, "enrich", "q131_enrich",
          stream => stream
            .join(broadcast(dim), col("user_id") === col("c_custkey"))
            .groupBy(col("n_name"))
            .agg(
              count(lit(1)).as("n_events"),
              sum(col("user_id")).as("user_id_sum"),
              sum(col("event_id")).as("event_id_sum")),
          Seq("n_name"), "n_events")
        .orderBy(col("n_name"))
    }),

    // §2.7 gate #6: STREAM-STREAM interval join through the driver's
    // oracle — the feed-scale form of q44's bucketized range join.
    // Purchases and clicks arrive as two INDEPENDENT file streams (one
    // file per micro-batch each), so most pairs match across different
    // micro-batches and live in the join state store meanwhile. Inner
    // joins emit on match, and the watermark delay (90 days) exceeds the
    // corpus's whole ~30-day span, so nothing evicts mid-replay — the
    // emitted pair relation is arrival-interleave-invariant and must
    // equal the BATCH interval join exactly. The memory sink holds the
    // matched PAIRS; the gate aggregates them to q44's output shape and
    // is checked against q44's verbatim oracle. (Production callers pass
    // a real delay; state is then bounded by delay + window width.)
    "q117_stream_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val et = graft.streaming.StreamingEtl.toEventTime(col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), et.as("p_et"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), et.as("c_et"))
      replayTwoStreams(s, "q117_join", dir, purchases, clicks,
          (l, r) => graft.streaming.StreamingEtl.streamIntervalJoin(
            l, "p_et", r, "c_et",
            lowerMicros = 0L, upperMicros = 300000000L,
            watermarkDelay = "90 days")
            .select(col("p_id"), col("c_id")))
        .groupBy(col("p_id"))
        .agg(
          count(lit(1)).as("n_clicks"),
          min(col("c_id")).as("min_click_id"))
        .orderBy(col("p_id"))
    }),

    // §2.7 gate #7: LEFT-OUTER stream-stream join — the eviction-driven
    // half of the join contract q117 cannot see: a purchase with NO click
    // in its window must still emit (with nulls) once the watermark
    // evicts its join state, never before. Phase-ordered two-source
    // replay: three real shards per side (matches span micro-batches),
    // then a far-future sentinel on BOTH sides in the same batch
    // (watermark = sentinel − 90d clears every real window's end), then
    // two empty spacer batches (eviction lags the watermark by one batch,
    // SPARK-24699 — the q116 lesson). During the real phases the
    // watermark stays below ALL real event times (delay 90d > the 30-day
    // corpus span), so no purchase can evict before its clicks arrive —
    // the outer relation is arrival-interleave-invariant. The gate
    // aggregates sink pairs per purchase; count(c_id)/min(c_id) ignore
    // the bucket-copy null rows (see streamIntervalJoin scaladoc), so
    // the output is exactly the batch LEFT JOIN the oracle runs.
    "q118_stream_outer_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val et = graft.streaming.StreamingEtl.toEventTime(col("ts"))
      // bounded driver read: ONE long (the corpus's max event time)
      val maxNs = ev.agg(max(col("ts"))).collect()(0).getLong(0)
      val sentinelNs = maxNs + (90L * 86400L + 86400L) * 1000000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), et.as("p_et"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), et.as("c_et"))
      def sentinel(idCol: String, etCol: String) =
        ev.sparkSession.range(1).select(
          lit(-1L).as(idCol),
          graft.streaming.StreamingEtl.toEventTime(lit(sentinelNs)).as(etCol))
      def phased(df: DataFrame, idCol: String, etCol: String) =
        Seq(
          df.filter(pmod(col(idCol), lit(3)) === 0),
          df.filter(pmod(col(idCol), lit(3)) === 1),
          df.filter(pmod(col(idCol), lit(3)) === 2),
          sentinel(idCol, etCol),
          df.limit(0), df.limit(0))
      replayTwoStreamsPhased(s, "q118_outer", dir,
          phased(purchases, "p_id", "p_et"), phased(clicks, "c_id", "c_et"),
          (l, r) => graft.streaming.StreamingEtl.streamIntervalJoin(
            l, "p_et", r, "c_et",
            lowerMicros = 0L, upperMicros = 300000000L,
            watermarkDelay = "90 days", joinType = "left_outer")
            .select(col("p_id"), col("c_id")))
        .filter(col("p_id") >= 0) // drop the sentinel purchase
        .groupBy(col("p_id"))
        .agg(
          count(col("c_id")).as("n_clicks"),
          // no-match sentinel −1 instead of SQL NULL: a null in gate
          // output makes the hash compare depend on both engines' null
          // canonicalization; the sentinel keeps the outer semantics
          // visible (n_clicks=0 rows) with an integer-exact hash
          coalesce(min(col("c_id")), lit(-1L)).as("min_click_id"))
        .orderBy(col("p_id"))
    }),

    // §2.7 gate #11: FULL-OUTER stream-stream join — the last join form
    // (q117 inner, q118 left-outer): BOTH eviction directions at once. A
    // purchase with no click still emits (q118's arm, per-copy nulls
    // collapsed by the grouping), AND a click preceded by no purchase
    // emits a right-null row — exact WITHOUT grouping, because the right
    // side carries one time bucket per row (no explosion). Same phased
    // two-source replay, sentinels + spacers driving both sides'
    // watermark evictions deterministically.
    "q148_stream_full_outer_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val et = graft.streaming.StreamingEtl.toEventTime(col("ts"))
      val maxNs = ev.agg(max(col("ts"))).collect()(0).getLong(0)
      val sentinelNs = maxNs + (90L * 86400L + 86400L) * 1000000000L
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), et.as("p_et"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), et.as("c_et"))
      def sentinel(idCol: String, etCol: String) =
        ev.sparkSession.range(1).select(
          lit(-1L).as(idCol),
          graft.streaming.StreamingEtl.toEventTime(lit(sentinelNs)).as(etCol))
      def phased(df: DataFrame, idCol: String, etCol: String) =
        Seq(
          df.filter(pmod(col(idCol), lit(3)) === 0),
          df.filter(pmod(col(idCol), lit(3)) === 1),
          df.filter(pmod(col(idCol), lit(3)) === 2),
          sentinel(idCol, etCol),
          df.limit(0), df.limit(0))
      val pairs = replayTwoStreamsPhased(s, "q148_fouter", dir,
          phased(purchases, "p_id", "p_et"), phased(clicks, "c_id", "c_et"),
          (l, r) => graft.streaming.StreamingEtl.streamIntervalJoin(
            l, "p_et", r, "c_et",
            lowerMicros = 0L, upperMicros = 300000000L,
            watermarkDelay = "90 days", joinType = "full_outer")
            .select(col("p_id"), col("c_id")))
      val perPurchase = pairs
        .filter(col("p_id").isNotNull && col("p_id") >= 0)
        .groupBy(col("p_id"))
        .agg(
          count(col("c_id")).as("n_clicks"),
          coalesce(min(col("c_id")), lit(-1L)).as("min_click_id"))
        .select(
          lit("purchase").as("side"), col("p_id").as("id"),
          col("n_clicks"), col("min_click_id"))
      val orphanClicks = pairs
        .filter(col("p_id").isNull && col("c_id") >= 0)
        .select(
          lit("click_orphan").as("side"), col("c_id").as("id"),
          lit(0L).as("n_clicks"), lit(-1L).as("min_click_id"))
      perPurchase.unionByName(orphanClicks)
        .orderBy(col("side"), col("id"))
    }),

    // §2.7 gate #5: WATERMARK semantics — the one streaming behavior the
    // other four gates deliberately avoid (their replays must not drop
    // rows). Five PHASE-CONTROLLED micro-batches make late-data handling
    // deterministic: (1) the full events table, which sets the watermark
    // to maxTs - 2h; (2) an EMPTY spacer batch — Spark keeps two
    // watermarks per batch (SPARK-24699: late-event filtering uses the
    // PREVIOUS batch's watermark, eviction the current one), so without
    // the spacer the late copies would be filtered against the initial
    // 1970 watermark and every one would merge (observed empirically:
    // numRowsDroppedByWatermark=0); (3) planted late copies — one class
    // >= 3h old (event time >= 1h below the now-effective late-event
    // watermark, window end below it by maxTs-mod-hour >= 26 min:
    // DROPPED), one class <= 1h old (event time >= 1h ABOVE the
    // watermark, its window still open at eviction granularity: merged,
    // so those windows count the copy TWICE); (4) a sentinel 6h in the
    // future, advancing the watermark past every real window so append
    // mode emits them all; (5) a second sentinel that triggers the
    // emitting batch. The oracle is the batch aggregation over
    // (events UNION accepted-late copies) — the same retention predicate
    // applied in SQL; a watermark bug in either direction (dropping
    // accepted rows, keeping dropped ones) shifts n_events/id_sum and
    // fails the hash. Both row classes are robust to either predicate
    // form (event-time vs window-end) and to ms-vs-µs watermark
    // truncation: every boundary has >= 26 min of slack at all SFs.
    "q116_stream_watermark" -> ((s, dir) =>
      replayPhases(s, "watermark", "q116_wm", dir,
          watermarkPhases(s, dir),
          stream => graft.streaming.StreamingEtl.watermarkedWindowCounts(
            stream, "event_type", "ts", "event_id", "user_id"))
        .filter(col("event_type") =!= "wm_probe")
        .select(
          col("event_type"),
          date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
          col("n_events"), col("id_sum"), col("user_sum"))
        .orderBy(col("event_type"), col("hour"))),

    // §2.7 gate #12: TTL-BOUNDED streaming dedup
    // (dropDuplicatesWithinWatermark) — the production form of q111's
    // unbounded dropDuplicates: state evicts behind the watermark, and
    // the semantic price is the late-drop rule this gate makes
    // deterministic. Phase 1 is the whole corpus (watermark lands at
    // max − 2 h). Phase 2 plants duplicate copies: recent ones (≥ max −
    // 1 h, state alive) suppress as duplicates; stale ones (< max − 3 h,
    // behind the watermark) drop as late — EITHER failure mode (a
    // re-admitted stale copy, a recent copy leaking through) changes a
    // counter. Phase 3 plants FRESH ids: recent ones must emit (dedup
    // must not over-suppress), stale ones must late-drop (the drop rule
    // applies to first copies too).
    "q153_stream_dedup_ttl" -> ((s, dir) =>
      ttlDedupGate(s, dir,
        stream => graft.streaming.StreamingEtl.dedupWithinWatermark(
          stream, Seq("event_id"), "ts", "2 hours"))),

    // §2.7 gate #13: q153's TTL-dedup contract
    // (dropDuplicatesWithinWatermark) under the RocksDB state-store
    // provider. Identical phases, identical oracle (q153's, by
    // reference): a provider divergence in the late-drop rule, the
    // suppress window, or watermark eviction breaks a counter.
    "q157_stream_dedup_ttl_tws" -> ((s, dir) => withRocksDb(s) {
      ttlDedupGate(s, dir,
        stream => graft.streaming.StreamingEtl.dedupWithinWatermark(
          stream, Seq("event_id"), "ts", "2 hours"))
    }),

    // S7 gate: the run-stamped parquet sink round trip under the driver's
    // oracle (reference src/output/ParquetWriter.cpp:51-75, 89-361). The
    // trade-shaped events relation goes through Sinks.writeParquet (the
    // stamped-path production sink, fixed clock so the path is
    // deterministic and overwrite keeps re-runs idempotent), is read BACK
    // from the stamped path, and aggregated with integer-exact measures.
    // The oracle aggregates the source table directly — identical output
    // is only possible if the sink wrote the relation losslessly.
    "q119_parquet_sink_roundtrip" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val out = new java.io.File(replayDir, "q119_sink").toString
      val path = graft.sinks.Sinks.writeParquet(
        asTrades(t(s, dir, "events")), out, "trades",
        nowMs = 1700000000000L)
      spark.read.parquet(path)
        .groupBy(col("symbol"))
        .agg(
          count(lit(1)).as("n_trades"),
          sum(col("trade_id")).as("id_sum"),
          sum(col("volume")).as("vol_sum"))
        .orderBy(col("symbol"))
    }),

    // S4/S5/S8 gate: the JDBC bulk sink's drop-index -> 4-connection
    // parallel load -> rebuild-index round trip (reference
    // src/database/DatabaseLoader.cpp:187-269 and the 4-thread
    // ParallelLoader.hpp:71-275) against embedded Derby — the one JDBC
    // engine on the Spark classpath. Every invocation reloads with
    // truncate (so the gate is idempotent across bench repeats and SF
    // dirs), reads the table back through spark.read.jdbc, and aggregates
    // per nation with integer-exact and decimal-anchored measures; the
    // oracle aggregates the source customer table. A dropped or doubled
    // partition, a lost row, or a mangled value breaks the hash.
    "q120_jdbc_sink_roundtrip" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val u = jdbcGateUrl
      val target = graft.sinks.Sinks.JdbcTarget(u, "customer_t", jdbcGateProps)
      // recreate-if-missing BEFORE the drop: if a prior invocation died
      // between its drop and its rebuild, a bare DROP INDEX would throw
      // 'does not exist' and poison the gate for the rest of the JVM
      ensureJdbcGateIndex(u)
      graft.sinks.Sinks.writeJdbc(
        t(s, dir, "customer"), target,
        numPartitions = 4, batchSize = 2000, truncate = true,
        preSql = Seq("DROP INDEX idx_cust_nat"),
        postSql = Seq(
          "CREATE INDEX idx_cust_nat ON customer_t (c_nationkey, c_custkey)"))
      spark.read.jdbc(u, "customer_t", jdbcGateProps)
        .select(
          col("c_nationkey").cast("int").as("nation_key"),
          col("c_custkey").as("cust_key"),
          col("c_acctbal").as("acctbal"))
        .groupBy(col("nation_key"))
        .agg(
          count(lit(1)).as("n_customers"),
          sum(col("cust_key")).as("cust_sum"),
          round(sum(col("acctbal").cast("decimal(18,4)")), 2)
            .cast("double").as("acctbal_sum"))
        .orderBy(col("nation_key"))
    }),

    // S1+S3+P1/P2+F2/F3 gate: the CSV wire format's SILENT-DEFAULT parse
    // under the driver's DuckDB hash — the one §2 row family that until
    // round 15 carried only golden-fixture specs. The seeded generator
    // (S3, reference src/tools/DataGenerator.hpp:49-228) produces the
    // corpus; deterministic per-id corruption classes then plant every
    // malformed-field shape the reference's from_chars zero-default
    // tolerates (reference src/parser/CsvParser.cpp:169-249): garbage
    // price, empty volume/timestamp/trade_id (numeric -> 0), lowercase
    // symbol, junk and EMPTY side/type (-> 'N'/'M', CsvParser.cpp:231,237),
    // empty is_pro (-> false). The corrupted frame is written as REAL CSV
    // files, read back through TradeCsv (S1: PERMISSIVE + coalesce
    // defaults), validated with the 6 ordered first-failure rules
    // (P1/P2, TradeValidator.hpp:98-182), and profiled with integer-exact
    // and decimal-anchored aggregates per (outcome, symbol, side, type,
    // is_pro). The oracle re-reads the SAME csv files with DuckDB's own
    // parser and re-implements parse defaults + rule order in SQL — the
    // two sides share only the bytes on disk. Corruption uses fully
    // non-numeric tokens only: from_chars' partial-prefix parse ("12abc"
    // -> 12) is the one reference behavior Spark's PERMISSIVE null cannot
    // express, and the fixture keeps both semantics identical by never
    // planting it (SURVEY §2.1 S1 documents the divergence).
    // The gate is generator-seeded, not sf-scaled: `dir` is unused, the
    // wire-format contract doesn't change with scale (1M rows, the
    // BASELINE.md corpus size).
    "q184_csv_silent_defaults" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val base = graft.sources.TradeGenerator.generate(spark, 1000000L, seed = 42L)
      val m = col("trade_id")
      def str(c: org.apache.spark.sql.Column) = c.cast("string")
      val corrupted = base.select(
        when(m % 149 === 0, lit("")).otherwise(str(col("trade_id"))).as("trade_id"),
        str(col("order_id")).as("order_id"),
        when(m % 127 === 0, lit("")).otherwise(str(col("timestamp"))).as("timestamp"),
        when(m % 107 === 0, lower(col("symbol"))).otherwise(col("symbol")).as("symbol"),
        when(m % 101 === 0, lit("garbage")).otherwise(str(col("price"))).as("price"),
        when(m % 103 === 0, lit("")).otherwise(str(col("volume"))).as("volume"),
        when(m % 109 === 0, lit("X"))
          .when(m % 131 === 0, lit(""))
          .otherwise(col("side")).as("side"),
        when(m % 113 === 0, lit("Q"))
          .when(m % 137 === 0, lit(""))
          .otherwise(col("type")).as("type"),
        when(m % 139 === 0, lit(""))
          .otherwise(when(col("is_pro"), lit("1")).otherwise(lit("0")))
          .as("is_pro"))
      corrupted.coalesce(8)
        .write.mode("overwrite").option("header", "true").csv(csvGateDir)
      val parsed = graft.sources.TradeCsv.read(spark, csvGateDir)
      graft.operators.Validation
        .withReason(parsed, graft.operators.TradeRules.rules)
        .groupBy(
          coalesce(col("reason"), lit("ok")).as("outcome"),
          col("symbol"), col("side"), col("type"), col("is_pro"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("volume").cast("long")).as("vol_sum"),
          sum(col("trade_id")).as("id_sum"),
          min(col("timestamp")).as("min_ts"),
          max(col("timestamp")).as("max_ts"),
          round(sum(col("price").cast("decimal(18,2)")), 2)
            .cast("double").as("price_sum"))
        .orderBy(col("outcome"), col("symbol"), col("side"),
          col("type"), col("is_pro"))
    }),

    // Full batch-ETL round trip under the DuckDB hash (round-17): clean
    // generator corpus -> CSV landing -> TradeCsv -> validation ->
    // single-pass indicators stamped with ONE pinned ns batch stamp
    // (S6/F9) -> stamped parquet sinks (S7/F10) -> the README
    // latest_indicators analytics read BACK from the stamped path (O3
    // ORDER BY computed_at + F8 signal CASE). The oracle re-derives
    // SMA/RSI/VWAP per symbol from the same CSV bytes (q16's oracle
    // shape at period 5) and hardcodes the pinned stamp — a per-row
    // stamp, a drifted stamp, a missing read-back, or a signal-boundary
    // bug each breaks the hash.
    "q199_etl_latest_indicators" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val r = etlResult(spark)
      val trades = spark.read.parquet(r.tradesPath)
      val inds = spark.read.parquet(r.indicatorsPath)
      graft.pipeline.BatchEtl.analytics(trades, inds)("latest_indicators")
        .select(
          col("symbol"),
          round(col("sma"), 4).as("sma"),
          round(col("rsi"), 4).as("rsi"),
          round(col("vwap"), 4).as("vwap"),
          col("period"), col("n_rows"), col("computed_at"), col("signal"))
        .orderBy(col("symbol"))
    }),

    // O1 oracle-gated: the README symbol_history analytics over the
    // read-back trades — the total (timestamp, trade_id) order made
    // hashable by attaching its row_number (the driver compare is
    // order-blind, so the ordinal IS the order pin). First 5000 rows
    // of RELIANCE's history; price/volume/flags ride along raw (CSV
    // round-trip parses to identical doubles in both engines).
    "q200_etl_symbol_history" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val r = etlResult(spark)
      val trades = spark.read.parquet(r.tradesPath)
      val inds = spark.read.parquet(r.indicatorsPath)
      graft.pipeline.BatchEtl.analytics(trades, inds)("symbol_history")
        .limit(5000)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("timestamp"), col("trade_id"))))
        .select(col("rn"), col("trade_id"), col("order_id"),
          col("timestamp"), col("price"), col("volume"),
          col("side"), col("type"), col("is_pro"))
        .orderBy(col("rn"))
    }),

    // §2.7 × S4 composed gate: exactly-once STREAMING delivery into the
    // JDBC sink (the reference's live leg: websocket feed -> indicators ->
    // postgres, src/tools/websocket_demo.cpp:130-220 +
    // src/database/DatabaseLoader.cpp:187-269, delivered there with no
    // batch bookkeeping at all). A 4-shard file replay of the events
    // subset streams through foreachBatch(Sinks.jdbcBatchWriter) into
    // Derby; then the worst crash window is simulated FOR REAL: batch 0's
    // log row is deleted (write survived, commit record lost) and a
    // phantom row is planted under batch 0 (a partial duplicate the crash
    // left). The replayed batch — reconstructed exactly as foreachBatch
    // re-delivers it — must wipe both and rewrite once. The oracle
    // aggregates the SOURCE relation: any duplicate, lost row, or
    // surviving phantom (its 'phantom' event_type would even add a group)
    // breaks the hash.
    "q123_stream_jdbc_sink" -> ((s, dir) => {
      val spark = Tables.configure(s)
      val qid = "q123"
      val u = streamJdbcGateUrl // creates stream_events_t + its batch log
      val slim = t(s, dir, "events")
        .filter(col("event_id") % 5 === 0)
        .select(col("event_id"), col("user_id"), col("event_type"))
      // reset so bench repeats and SF switches stay idempotent
      execJdbcGate(u, Seq(
        "DELETE FROM stream_events_t",
        s"DELETE FROM stream_events_t_batchlog WHERE query_id = '$qid'"))
      val tmp = memoizedWrite(s"jdbc|$qid|$dir|${dirFp(dir)}") { d =>
        slim.repartition(4).write.mode("overwrite").parquet(d)
      }
      val target = graft.sinks.Sinks.JdbcTarget(
        u, "stream_events_t", jdbcGateProps)
      val writer = graft.sinks.Sinks.jdbcBatchWriter(
        target, qid, numPartitions = 2, batchSize = 5000)
      val ckpt = replayCheckpoint()
      try {
        val q = spark.readStream.schema(slim.schema)
          .option("maxFilesPerTrigger", 1).parquet(tmp)
          .writeStream.foreachBatch((df: DataFrame, id: Long) => writer(df, id))
          .option("checkpointLocation", ckpt)
          .start()
        try q.processAllAvailable() finally q.stop()
      } finally {
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
      }
      // crash simulation: batch 0 fully written but its log row lost, plus
      // a leftover phantom row under the same batch id. Snapshot the
      // batch's rows BEFORE the replay deletes them (spark.read.jdbc is
      // lazy — materialize to scratch parquet, not driver memory).
      val b0Dir = new java.io.File(replayDir, s"${qid}_b0").toString
      spark.read.jdbc(u, "stream_events_t", jdbcGateProps)
        .filter(col("batch_id") === 0).drop("batch_id")
        .write.mode("overwrite").parquet(b0Dir)
      execJdbcGate(u, Seq(
        s"DELETE FROM stream_events_t_batchlog WHERE query_id = '$qid' AND batch_id = 0",
        "INSERT INTO stream_events_t VALUES (-999, 0, 'phantom', 0)"))
      writer(spark.read.parquet(b0Dir), 0L)
      spark.read.jdbc(u, "stream_events_t", jdbcGateProps)
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).as("n_events"),
          sum(col("event_id")).as("id_sum"),
          sum(col("user_id")).as("user_sum"))
        .orderBy(col("event_type"))
    })
  )

  /** One embedded-Derby database per JVM for the q123 streaming-sink
    * gate: the data table AND the writer's batch-log table are created
    * here once, so each invocation's reset can DELETE from both
    * unconditionally (Derby has no IF [NOT] EXISTS anywhere).
    */
  private lazy val streamJdbcGateUrl: String = {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby-stream")
    val u = s"jdbc:derby:$dbDir/gate;create=true"
    execJdbcGate(u, Seq(
      """CREATE TABLE stream_events_t (
        event_id BIGINT, user_id BIGINT, event_type VARCHAR(32),
        batch_id BIGINT)""",
      """CREATE TABLE stream_events_t_batchlog (
        query_id VARCHAR(128) NOT NULL, batch_id BIGINT NOT NULL,
        PRIMARY KEY (query_id, batch_id))"""))
    u
  }

  private def execJdbcGate(url: String, sqls: Seq[String]): Unit = {
    val c = java.sql.DriverManager.getConnection(url, jdbcGateProps)
    try sqls.foreach { q =>
      val st = c.createStatement()
      try st.execute(q) finally st.close()
    } finally c.close()
  }

  /** One embedded-Derby database per JVM for the q120 sink gate: schema
    * DDL (table + the reference's covering index) runs once; each gate
    * invocation then exercises only the production drop-load-rebuild
    * path. Derby has no CREATE TABLE IF NOT EXISTS — the once-per-JVM
    * lazy init is the idempotence mechanism.
    */
  private[graft] lazy val jdbcGateUrl: String = {
    val dbDir = java.nio.file.Files.createTempDirectory("graft-derby-gate")
    val u = s"jdbc:derby:$dbDir/gate;create=true"
    val c = java.sql.DriverManager.getConnection(u, jdbcGateProps)
    try {
      val st = c.createStatement()
      st.execute("""CREATE TABLE customer_t (
        c_custkey BIGINT, c_name VARCHAR(64), c_nationkey INTEGER,
        c_acctbal DOUBLE, c_mktsegment VARCHAR(32))""")
      st.execute(
        "CREATE INDEX idx_cust_nat ON customer_t (c_nationkey, c_custkey)")
      st.close()
    } finally c.close()
    u
  }

  private def jdbcGateProps: java.util.Properties = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  /** Recreate the q120 gate index if a previous partially-failed
    * invocation left it dropped (Derby has no DROP INDEX IF EXISTS /
    * CREATE INDEX IF NOT EXISTS; existence is checked via metadata).
    */
  private def ensureJdbcGateIndex(url: String): Unit = {
    val c = java.sql.DriverManager.getConnection(url, jdbcGateProps)
    try {
      val rs = c.getMetaData.getIndexInfo(null, null, "CUSTOMER_T", false, false)
      var present = false
      while (rs.next())
        if (Option(rs.getString("INDEX_NAME")).contains("IDX_CUST_NAT"))
          present = true
      if (!present) {
        val st = c.createStatement()
        try st.execute(
          "CREATE INDEX idx_cust_nat ON customer_t (c_nationkey, c_custkey)")
        finally st.close()
      }
    } finally c.close()
  }

  /** Pin the RocksDB state-store provider around a gate body, restoring
    * the prior session conf afterwards — shared by the gates that re-run
    * a stateful semantics under RocksDB (q154, q157, q160, q164, q165)
    * so the wrap cannot drift per gate.
    */
  private def withRocksDb[A](s: SparkSession)(body: => A): A = {
    val spark = Tables.configure(s)
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Shared streaming-replay harness for the §2.7 parity gates: re-shard
    * the events table into several files (so maxFilesPerTrigger=1 yields
    * genuine cross-batch state, not one big batch), run `build` over the
    * file stream into an update-mode memory sink, and return the final
    * per-key snapshot. One scratch dir per JVM (overwrite mode) so
    * median-of-3 bench runs don't accumulate. `input` keys the memoized
    * replay input, `name` the memory sink.
    */
  private def replaySnapshot(
      s: SparkSession, dir: String, input: String, name: String,
      build: DataFrame => DataFrame,
      partCols: Seq[String], counterCol: String): DataFrame =
    finalSnapshot(
      replayRaw(s, dir, input, name, identity, build), partCols, counterCol)

  /** The indicator state machine's replay in q16's output shape — q55 on
    * the default state store, q154 under RocksDB, over one memoized
    * replay input; `name` keys the memory sink.
    */
  private def indicatorReplay(
      s: SparkSession, dir: String, name: String): DataFrame =
    replaySnapshot(s, dir, "indicator", name,
        stream => graft.streaming.StreamingEtl.statefulIndicators(
          asTrades(stream), period = 14).toDF(),
        Seq("symbol"), "n_rows")
      .select(
        col("symbol").as("event_type"),
        round(col("sma"), 4).as("sma"),
        round(col("rsi"), 4).as("rsi"),
        round(col("vwap"), 4).as("vwap"),
        col("period"),
        col("n_rows"))
      .orderBy(col("event_type"))

  /** The session interval algebra's replay in q17's output shape — q92
    * on the default state store, q160 under RocksDB.
    */
  private def sessionReplay(
      s: SparkSession, dir: String, name: String): DataFrame =
    replaySnapshot(s, dir, "session", name,
        stream => graft.streaming.StreamingEtl.statefulSessions(
          stream.select(col("user_id"), col("ts")),
          gap = 1800000000000L).toDF(),
        Seq("user_id"), "n_events")
      .select(col("user_id"), col("n_sessions"), col("n_events"))
      .orderBy(col("user_id"))

  /** The hourly candle replay in q80's output shape — q86 on the default
    * state store, q164 under RocksDB. No watermark: a replay must not
    * drop late rows.
    */
  private def ohlcReplay(
      s: SparkSession, dir: String, name: String): DataFrame =
    replaySnapshot(s, dir, "ohlc", name,
        stream => graft.streaming.StreamingEtl.windowedOhlc(
          asTrades(stream), "1 hour"),
        Seq("window", "symbol"), "n_ticks")
      .select(
        col("symbol").as("event_type"),
        date_format(col("window.start"), "yyyy-MM-dd HH:00").as("hour"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_ticks"))
      .orderBy(col("event_type"), col("hour"))

  /** The replay harness without the per-key snapshot: returns the raw
    * update-mode memory-sink table. `prep` transforms the events table
    * BEFORE the re-shard + write, so a gate can plant rows (e.g.
    * duplicates for the streaming-dedup gate) that then arrive across
    * different micro-batches. `input` names what `prep` makes: gates
    * replaying one input share its memoized write.
    */
  private def replayRaw(
      s: SparkSession, dir: String, input: String, name: String,
      prep: DataFrame => DataFrame,
      build: DataFrame => DataFrame): DataFrame = {
    val spark = Tables.configure(s)
    val events = prep(t(s, dir, "events"))
    val tmp = memoizedWrite(s"raw|$input|$dir|${dirFp(dir)}") { d =>
      events.repartition(4).write.mode("overwrite").parquet(d)
    }
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", 1).parquet(tmp)
    val qname = s"${name}_${replaySeq.incrementAndGet()}"
    // Pin the STREAMING run's shuffle width to the replay's key scale:
    // every stateful shuffle partition pays a state-store delta commit
    // per micro-batch whether or not it holds keys, so the session-wide
    // 32 costs 4x32 near-empty commits per gate. Width, measurements and
    // the env override live on replayShufflePartitions (32 -> 8 measured
    // 12.4 -> 3.6 s on q55 in round 5; 8 -> 4 measured q118 7.4 -> 5.9 s
    // in round 9); results are partitioning-invariant (the parity
    // oracles assert it). Restored before the batch-side snapshot window.
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", replayShufflePartitions)
    val ckpt = replayCheckpoint()
    try {
      val q = build(stream).writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .outputMode("update").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.table(qname)
  }

  /** Two-source replay for the stream-stream join gate: each side is
    * written as several parquet shards and read back as its OWN file
    * stream (maxFilesPerTrigger=1 per source), so join matches genuinely
    * span micro-batches and the join state store carries unmatched rows
    * across them. The build's output goes to an append-mode memory sink —
    * stream-stream inner joins emit rows as they match.
    */
  private def replayTwoStreams(
      s: SparkSession, name: String, dir: String,
      left: DataFrame, right: DataFrame,
      build: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = Tables.configure(s)
    val lDir = memoizedWrite(s"two|$name|left|$dir|${dirFp(dir)}") { d =>
      left.repartition(3).write.mode("overwrite").parquet(d)
    }
    val rDir = memoizedWrite(s"two|$name|right|$dir|${dirFp(dir)}") { d =>
      right.repartition(3).write.mode("overwrite").parquet(d)
    }
    val lStream = spark.readStream.schema(left.schema)
      .option("maxFilesPerTrigger", 1).parquet(lDir)
    val rStream = spark.readStream.schema(right.schema)
      .option("maxFilesPerTrigger", 1).parquet(rDir)
    val qname = s"${name}_${replaySeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", replayShufflePartitions)
    val ckpt = replayCheckpoint()
    try {
      val q = build(lStream, rStream).writeStream.format("memory")
        .queryName(qname).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.table(qname)
  }

  /** q116's five watermark phases, shared by q165: the whole corpus, an
    * empty spacer (late filtering lags the watermark by one batch), the
    * late-drop (>= 3 h behind) and accepted-late (<= 1 h behind) copy
    * classes, then two `wm_probe` sentinels 6 h and 12 h past the corpus
    * that push the watermark past every real window and trigger the
    * emitting batch.
    */
  private def watermarkPhases(s: SparkSession, dir: String): Seq[DataFrame] = {
    val events = t(s, dir, "events")
    val tsUs = call_function("div", col("ts"), lit(1000L))
    val hourUs = 3600L * 1000000L
    // bounded driver read: ONE long (the corpus's max event time)
    val maxUs = events.agg(max(tsUs)).collect()(0).getLong(0)
    val lateDrop = events
      .filter(col("event_id") % 9 === 0 && tsUs < maxUs - 3 * hourUs)
    val lateKeep = events
      .filter(col("event_id") % 4 === 1 && tsUs >= maxUs - hourUs)
    def sentinel(offsetUs: Long) = events.sparkSession.range(1).select(
      lit(-1L).as("event_id"),
      lit((maxUs + offsetUs) * 1000L).as("ts"),
      lit(0L).as("user_id"),
      lit("wm_probe").as("event_type"),
      lit(0.0d).as("value"),
      lit("").as("props"))
    Seq(events, events.limit(0), lateDrop.union(lateKeep),
      sentinel(6 * hourUs), sentinel(12 * hourUs))
  }

  /** Shared q153/q157 gate body — ONE phase construction and final
    * aggregation for both state-store providers, so the two runs replay
    * byte-identical inputs against the shared oracle. Phase 1 is the
    * whole corpus (watermark lands at max − 2 h). Phase 2 plants
    * duplicate copies: recent ones (≥ max − 1 h, state alive) suppress;
    * stale ones (< max − 3 h, behind the watermark) late-drop. Phase 3
    * plants FRESH ids: recent must emit, stale must late-drop (the drop
    * rule applies to first copies too). Phases share one memoized write
    * (same key for both gates).
    */
  private def ttlDedupGate(
      s: SparkSession, dir: String,
      dedup: DataFrame => DataFrame): DataFrame = {
    val ev = t(s, dir, "events")
    val tsUs = call_function("div", col("ts"), lit(1000L))
    val hourUs = 3600L * 1000000L
    // bounded driver read: ONE long (the corpus's max event time)
    val maxUs = ev.agg(max(tsUs)).collect()(0).getLong(0)
    val dupRecent = ev.filter(
      col("event_id") % 5 === 0 && tsUs >= maxUs - hourUs)
    val dupStale = ev.filter(
      col("event_id") % 5 === 1 && tsUs < maxUs - 3 * hourUs)
    val freshKeep = ev.filter(
        col("event_id") % 7 === 0 && tsUs >= maxUs - hourUs)
      .withColumn("event_id", col("event_id") + 1000000L)
    val freshLate = ev.filter(
        col("event_id") % 7 === 1 && tsUs < maxUs - 3 * hourUs)
      .withColumn("event_id", col("event_id") + 2000000L)
    replayPhases(s, "ttl_dedup", "ttl_dedup", dir,
        Seq(ev, dupRecent.union(dupStale), freshKeep.union(freshLate)),
        stream => dedup(stream)
          .select(col("event_type"), col("event_id"), col("user_id")))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("event_id")).as("id_sum"),
        sum(col("user_id")).as("user_sum"))
      .orderBy(col("event_type"))
  }

  /** Phase-controlled replay for the watermark gate: each phase becomes
    * ONE parquet file with a strictly increasing modification time, and
    * `maxFilesPerTrigger=1` then yields exactly one micro-batch per phase
    * in phase order (FileStreamSource takes unread files oldest-first;
    * zero-padded names break any mod-time tie the same way). That ordering
    * is what makes watermark advancement — and therefore which late rows
    * are dropped — deterministic, where replayRaw's repartition shards
    * would leave it to scheduling. APPEND output mode: the memory sink
    * holds each finalized window exactly once. `input` keys the memoized
    * phase write (gates replaying one phase set share it), `name` the sink.
    */
  private def replayPhases(
      s: SparkSession, input: String, name: String, dir: String,
      phases: Seq[DataFrame],
      build: DataFrame => DataFrame): DataFrame = {
    val spark = Tables.configure(s)
    val streamDir = writePhases(s"phases|$input|$dir|${dirFp(dir)}", phases)
    val stream = spark.readStream.schema(phases.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    val qname = s"${name}_${replaySeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", replayShufflePartitions)
    val ckpt = replayCheckpoint()
    try {
      val q = build(stream).writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.table(qname)
  }

  /** Write each phase as ONE parquet file with strictly increasing
    * modification times under a key-derived stream dir, so a file
    * stream with maxFilesPerTrigger=1 yields exactly one micro-batch per
    * phase IN PHASE ORDER (FileStreamSource takes unread files
    * oldest-first; zero-padded names break mod-time ties the same way).
    * An empty phase still produces a file — an empty spacer batch, which
    * the watermark gates rely on (late-filtering and eviction both lag
    * the watermark by one batch, SPARK-24699). Memoized per (key): see
    * [[memoizedWrite]].
    */
  private def writePhases(key: String, phases: Seq[DataFrame]): String =
    memoizedWrite(key) { root =>
      val base = new java.io.File(root)
      val streamDir = new java.io.File(base, "stream")
      streamDir.mkdirs()
      phases.zipWithIndex.foreach { case (df, i) =>
        val stage = new java.io.File(base, s"stage_$i").toString
        df.coalesce(1).write.mode("overwrite").parquet(stage)
        val part = new java.io.File(stage).listFiles()
          .find(f => f.getName.endsWith(".parquet")).get
        val dst = new java.io.File(streamDir, f"phase_$i%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // synthetic mod times: strictly increasing, far in the past so a
        // re-run's overwrite can never interleave with wall-clock time
        dst.setLastModified(1000000000000L + i * 60000L)
      }
    } + "/stream"

  /** Replay-input writes are deterministic per (gate, sf dir) and are
    * harness SETUP, not the operator under test — so each is written once
    * per JVM and reused across invocations (Verify + Bench best-of-3 +
    * specs would otherwise pay the q118 gate's 12 phase-file writes three
    * times over). Keys must encode everything the content depends on:
    * gate name AND the sf directory.
    */
  /** Cheap content fingerprint of an sf data dir: every parquet part's
    * (relative path, size, mtime) hashed. Folded into each memoizedWrite
    * key so a long-lived JVM that regenerates the testdata in place gets
    * fresh replay inputs instead of silently reusing stale ones.
    */
  private def dirFp(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) "absent"
    else {
      var acc = 0x9e3779b97f4a7c15L
      val stream = java.nio.file.Files.walk(root)
      try stream.sorted().forEach { p =>
        val f = p.toFile
        if (f.isFile) {
          acc = java.lang.Long.rotateLeft(acc, 17) ^
            root.relativize(p).toString.hashCode.toLong ^
            (f.length * 31L) ^ f.lastModified
        }
      } finally stream.close()
      java.lang.Long.toHexString(acc)
    }
  }

  private def memoizedWrite(key: String)(write: String => Unit): String =
    replayWrites.computeIfAbsent(key, _ => {
      def sanitize(s: String) = s.map(c =>
        if (c.isLetterOrDigit || c == '.' || c == '-' || c == '_') c else '_')
      // key layout is "<prefix>|<fingerprint>". The dir is named
      // sanitize(prefix) + "@" + sanitize(fp) — '@' survives no sanitize,
      // so "same prefix, different fingerprint" is an exact, collision-
      // free match. When the testdata regenerates in place the
      // fingerprint changes and a NEW dir is written; the superseded
      // same-prefix dirs are deleted first, or a long-lived JVM cycling
      // regenerations accumulates unbounded copies on the (possibly
      // RAM-backed) replayDir.
      val cut = key.lastIndexOf('|')
      val dirName =
        if (cut > 0)
          sanitize(key.substring(0, cut)) + "@" + sanitize(key.substring(cut + 1))
        else sanitize(key)
      if (cut > 0) {
        val prefix = dirName.substring(0, dirName.lastIndexOf('@') + 1)
        Option(new java.io.File(replayDir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith(prefix) && f.getName != dirName)
          .foreach(org.apache.commons.io.FileUtils.deleteQuietly)
      }
      val d = new java.io.File(replayDir, dirName)
      org.apache.commons.io.FileUtils.deleteQuietly(d)
      write(d.toString)
      d.toString
    })

  private val replayWrites =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Shuffle width for the streaming replay gates (see replayRaw scaladoc
    * for why this is NOT the session's 32): every stateful shuffle
    * partition pays a state-store delta commit per micro-batch whether or
    * not it holds keys. Results are partitioning-invariant (the DuckDB
    * oracles pin that). Measured on the five heaviest gates (min-of-3,
    * sf0.1): 8 -> 4 cuts q118 7.4 s -> 5.9 s, q55 2.3 s -> 2.0 s, q112
    * 4.0 s -> 3.7 s; 2 adds little beyond 4, and 4 still exercises
    * genuinely multi-partition state. Env-overridable for A/B runs.
    */
  private val replayShufflePartitions: String =
    sys.env.getOrElse("SPARK_GRAFT_REPLAY_PARTITIONS", "4")

  /** Two-source PHASE-CONTROLLED replay (the q118 outer-join gate): each
    * source gets its own phase-ordered file sequence, and because
    * maxFilesPerTrigger=1 applies per source, micro-batch k carries phase
    * k of BOTH sides — sentinels land together, so watermark advancement
    * (and therefore outer-null eviction) is deterministic across sources.
    */
  private def replayTwoStreamsPhased(
      s: SparkSession, name: String, dir: String,
      leftPhases: Seq[DataFrame], rightPhases: Seq[DataFrame],
      build: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val spark = Tables.configure(s)
    val lDir = writePhases(s"2phases|$name|left|$dir|${dirFp(dir)}", leftPhases)
    val rDir = writePhases(s"2phases|$name|right|$dir|${dirFp(dir)}", rightPhases)
    val l = spark.readStream.schema(leftPhases.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(lDir)
    val r = spark.readStream.schema(rightPhases.head.schema)
      .option("maxFilesPerTrigger", 1).parquet(rDir)
    val qname = s"${name}_${replaySeq.incrementAndGet()}"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", replayShufflePartitions)
    val ckpt = replayCheckpoint()
    try {
      val q = build(l, r).writeStream.format("memory").queryName(qname)
        .option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    }
    spark.table(qname)
  }

  /** events -> the trade wire shape the stateful market operators take. */
  private def asTrades(df: DataFrame): DataFrame = df.select(
    col("event_type").as("symbol"),
    col("ts").as("timestamp"),
    col("event_id").as("trade_id"),
    col("value").as("price"),
    col("user_id").as("volume"))

  /** Final state snapshot from an update-mode memory sink: the sink
    * accumulates every per-batch update, and a key's LAST emission is its
    * row with the largest `counterCol` — valid because the counter is
    * strictly increasing per re-emission (a group only re-emits when it
    * received new rows). Shared by q55, q86 and the streaming specs so
    * the invariant lives in one place.
    */
  private[graft] def finalSnapshot(
      df: DataFrame, partCols: Seq[String], counterCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCols.map(col): _*)
      .orderBy(col(counterCol).desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  // memory-sink query names must be unique per replay within a session
  // (Verify and Bench both run a query several times)
  private val replaySeq = new java.util.concurrent.atomic.AtomicLong(0L)

  // Replay scratch, one per JVM (written with mode=overwrite). Prefers
  // tmpfs (/dev/shm) when present: every micro-batch fsyncs its offset
  // log, commit log and state-store delta files under the checkpoint, so
  // a disk-backed /tmp charges each replay gate several ms of fsync per
  // batch x store x partition. Replay inputs and checkpoints are small
  // (MBs) and disposable — exactly what tmpfs is for. On a cluster the
  // equivalent knob is a local-SSD/ramdisk checkpoint volume for TEST
  // harnesses only; production checkpoints go to durable storage.
  /** q199/q200's end-to-end ETL run (the [[csvGateDir]] discipline,
    * extended to the whole pipeline): ONE memoized
    * [[graft.pipeline.BatchEtl.run]] per session over a clean seeded
    * generator corpus landed as real CSV, at a PINNED batch stamp —
    * both gates read the run's stamped parquet outputs back and their
    * oracle SQL re-derives everything from the same CSV bytes plus the
    * same pinned stamp. This oracle-gates the reference rows that were
    * spec-only: S6/F9 (ONE ns stamp per batch on every indicator row),
    * S7/F10 (stamped parquet paths round-trip), O1 (total (ts,
    * trade_id) order), O3 (ORDER BY computed_at), F8 (signal CASE).
    */
  private val etlGateNowMs = 1700000000000L
  private lazy val etlGateRoot: String =
    java.nio.file.Files.createTempDirectory("graft-etl-gate").toString
  private def etlCsvDir: String = s"$etlGateRoot/csv"
  private val etlRuns = new java.util.concurrent.ConcurrentHashMap[
    String, graft.pipeline.BatchEtl.Result]()
  private def etlResult(
      spark: org.apache.spark.sql.SparkSession): graft.pipeline.BatchEtl.Result =
    etlRuns.computeIfAbsent("run", _ => {
      graft.sources.TradeGenerator.generate(spark, 200000L, seed = 43L)
        .select(
          col("trade_id").cast("string"), col("order_id").cast("string"),
          col("timestamp").cast("string"), col("symbol"),
          col("price").cast("string"), col("volume").cast("string"),
          col("side"), col("type"),
          when(col("is_pro"), lit("1")).otherwise(lit("0")).as("is_pro"))
        .coalesce(4)
        .write.mode("overwrite").option("header", "true").csv(etlCsvDir)
      graft.pipeline.BatchEtl.run(
        spark, etlCsvDir, s"$etlGateRoot/out", period = 5,
        nowMs = etlGateNowMs)
    })

  /** q184's CSV landing zone. PER-SESSION temp dir: the oracle SQL is
    * rendered from this same value in this same JVM (the oracles map is
    * built lazily), so the gate and the DuckDB reader always rendezvous
    * on one location — and two concurrent harness runs on one machine
    * can no longer interleave one run's mode=overwrite write with the
    * other's oracle read (they each get a private dir). Content stays
    * fully deterministic (seeded generator + id-keyed corruption), so
    * re-runs within a session land identical bytes.
    */
  private lazy val csvGateDir: String =
    java.nio.file.Files.createTempDirectory("graft-csv-gate").toString

  private lazy val replayDir: String = {
    val shm = new java.io.File("/dev/shm")
    val dir =
      if (shm.isDirectory && shm.canWrite)
        java.nio.file.Files.createTempDirectory(shm.toPath, "graft-replay")
      else java.nio.file.Files.createTempDirectory("graft-replay")
    // replay inputs are setup, so they go when the JVM exits (unlike
    // csvGateDir, which the DuckDB oracle reads after the JVM is gone).
    // Hadoop's hook manager runs this below Spark's own priority, after
    // the context and its streams have stopped writing.
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile), 20)
    dir.toString
  }

  /** Per-replay checkpoint dir under [[replayDir]] (tmpfs when available):
    * a fresh dir per query start — replays are deterministic re-runs, so
    * checkpoint recovery across invocations is neither needed nor wanted
    * (StreamingRecoverySpec proves recovery separately, on durable dirs).
    */
  private def replayCheckpoint(): String =
    new java.io.File(replayDir,
      s"ckpt_${replaySeq.incrementAndGet()}").toString

  // The emitted relation under TTL dedup: the original corpus (unique
  // ids emit once; planted duplicate copies suppress or late-drop —
  // phase design makes every row's fate static) plus the fresh
  // above-watermark plants. Stale plants of BOTH kinds drop. Shared by
  // q153 (dropDuplicatesWithinWatermark on the default state store) and
  // q157 (the same operator under RocksDB): one contract, two providers.
  private val ttlDedupOracle: String =
    """WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
         fresh AS (
           SELECT e.event_type, e.event_id + 1000000 AS event_id, e.user_id
           FROM events e, m
           WHERE e.event_id % 7 = 0
             AND epoch_us(e.ts) >= m.max_us - 3600000000),
         allrows AS (
           SELECT event_type, event_id, user_id FROM events
           UNION ALL SELECT event_type, event_id, user_id FROM fresh)
         SELECT event_type, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM allrows GROUP BY event_type ORDER BY event_type"""

  // Shared by q16 (batch windowed form) and q55 (streaming state-machine
  // replay of the same rows): one oracle, two physical executions.
  private val indicatorOracle: String =
    """WITH ordered AS (
           SELECT event_type, value, user_id, ts, event_id,
             value - lag(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS d,
             avg(value) OVER (
               PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) AS sma_run,
             row_number() OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n,
             sum(value * user_id) OVER (PARTITION BY event_type) /
               CAST(sum(user_id) OVER (PARTITION BY event_type) AS DOUBLE)
               AS vwap_all
           FROM events
         ), lastrows AS (
           SELECT * FROM ordered WHERE rn = n
         ), diffs AS (
           SELECT event_type,
             CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
             CASE WHEN d < 0 THEN -d ELSE 0 END AS loss
           FROM ordered
           WHERE rn > n - 14 AND d IS NOT NULL
         ), rsi AS (
           SELECT event_type,
             CASE WHEN sum(loss) = 0 THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + avg(gain) / avg(loss)) END AS r
           FROM diffs GROUP BY event_type
         )
         SELECT l.event_type,
           round(l.sma_run, 4) AS sma,
           round(coalesce(r.r, 50.0), 4) AS rsi,
           round(l.vwap_all, 4) AS vwap,
           CAST(least(14, l.n) AS INTEGER) AS period,
           CAST(l.n AS BIGINT) AS n_rows
         FROM lastrows l LEFT JOIN rsi r ON l.event_type = r.event_type
         ORDER BY l.event_type"""

  // Shared by q17 (batch lag-window sessions) and q92 (streaming replay
  // through the order-invariant interval algebra): one oracle, two
  // physical executions. epoch_ns is safe against the oracle engine's
  // µs read of the ns parquet ONLY because this testdata's timestamps
  // are all µs-aligned (ns % 1000 == 0, checked at sf0.01 and sf0.1) —
  // truncation is lossless, so the gap-vs-threshold comparisons agree.
  // Sub-µs data would need the q89 treatment (anchor both sides at µs).
  private val sessionOracle: String =
    """WITH flagged AS (
         SELECT user_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch_ns(ts) - epoch_ns(lag(ts) OVER w)
                     > 1800000000000
                THEN 1 ELSE 0 END AS is_new
         FROM events
         WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
       )
       SELECT user_id,
         CAST(sum(is_new) AS BIGINT) AS n_sessions,
         count(*) AS n_events
       FROM flagged GROUP BY user_id ORDER BY user_id"""

  // Shared by q80 (batch candle aggregate) and q86 (streaming replay of
  // the same rows through the same OhlcAggExpr): one oracle, two
  // physical executions — the q16/q55 pattern for the candle algebra.
  private val ohlcOracle: String =
    """WITH b AS (
         SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           value, user_id,
           row_number() OVER w AS rn,
           count(*) OVER (
             PARTITION BY event_type, date_trunc('hour', ts)) AS n
         FROM events
         WINDOW w AS (
           PARTITION BY event_type, date_trunc('hour', ts)
           ORDER BY ts, event_id)
       )
       SELECT event_type, hour,
         max(CASE WHEN rn = 1 THEN value END) AS open,
         max(value) AS high,
         min(value) AS low,
         max(CASE WHEN rn = n THEN value END) AS close,
         CAST(sum(user_id) AS BIGINT) AS volume,
         count(*) AS n_ticks
       FROM b GROUP BY event_type, hour
       ORDER BY event_type, hour"""

  val oracles: Map[String, String] = Map(
    "q13_case_classify" ->
      """SELECT event_type,
         CASE WHEN value >= 400 THEN 'HIGH'
              WHEN value <= 50 THEN 'LOW'
              ELSE 'MID' END AS signal,
         count(*) AS n
         FROM events GROUP BY event_type, signal
         ORDER BY event_type, signal""",
    "q14_validate" ->
      """SELECT coalesce(
           CASE
             WHEN event_type NOT IN ('click','view','purchase','signup','error')
               THEN 'invalid_type'
             WHEN NOT (value > 0 AND value < 480) THEN 'invalid_value'
             WHEN NOT (user_id > 0) THEN 'invalid_user'
             WHEN NOT (epoch_ns(ts) > 0) THEN 'invalid_ts'
           END, 'valid') AS outcome, count(*) AS n
         FROM events GROUP BY outcome ORDER BY outcome""",
    "q15_vwap" ->
      """SELECT l_returnflag,
         CAST(round(CAST(
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
             * CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) /
           CAST(sum(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
           AS DECIMAL(38,10)), 4) AS DOUBLE) AS vwap,
         CAST(round(sum(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE)
           AS total_vol
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q16_indicators" -> indicatorOracle,
    // q55 replays the same rows through the streaming state machine; the
    // parity claim IS "same answer as the batch aggregate", so the oracle
    // is q16's verbatim
    "q55_stream_parity" -> indicatorOracle,
    // same oracle, by reference: the state-store provider (q154 runs
    // q55's state machine under RocksDB) is a deployment knob, not
    // semantics
    "q154_stream_indicators_tws" -> indicatorOracle,
    "q17_sessionize" -> sessionOracle,
    // q92 replays the same rows through the interval-algebra state
    // machine; the parity claim IS "same sessions as the batch window"
    "q92_stream_sessions" -> sessionOracle,
    // same oracle, by reference: q92's state machine under RocksDB
    // (the q154/q157 rationale, now for the session algebra)
    "q160_stream_sessions_tws" -> sessionOracle,
    "q18_json" ->
      """SELECT event_type,
         CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
           AS BIGINT) AS sum_k,
         count(json_extract_string(props, '$.k')) AS n_k
         FROM events GROUP BY event_type ORDER BY event_type""",
    "q31_asof" ->
      """WITH p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
         c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')
         SELECT p.user_id,
           count(*) AS n_purch,
           count(c.ts) AS n_matched,
           CAST(round(CAST(sum(epoch_ns(p.ts) - epoch_ns(c.ts)) / 1e9
             AS DECIMAL(38,10)), 3) AS DOUBLE) AS total_lag_s
         FROM p ASOF LEFT JOIN c
           ON p.user_id = c.user_id AND p.ts >= c.ts
         GROUP BY p.user_id ORDER BY p.user_id""",
    "q19_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
         count(*) AS n, round(sum(value), 2) AS sum_value
         FROM events GROUP BY hour ORDER BY hour""",
    "q89_gap_stats" ->
      """WITH g AS (
           SELECT event_type,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap
           FROM events
           WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
         )
         SELECT event_type,
           count(*) AS n_gaps,
           CAST(min(gap) AS BIGINT) AS min_gap,
           CAST(max(gap) AS BIGINT) AS max_gap,
           CAST(sum(gap) AS BIGINT) AS total_gap,
           round(CAST(sum(gap) AS DOUBLE) / count(*), 2) AS avg_gap
         FROM g WHERE gap IS NOT NULL
         GROUP BY event_type ORDER BY event_type""",
    // open/close replicated via rn=1 / rn=n over the same (ts, event_id)
    // order the native candle aggregate's ordinal tuple encodes
    "q80_ohlc_bars" -> ohlcOracle,
    // q86 replays the same rows through the streaming state machine; the
    // parity claim IS "same candles as the batch aggregate" (q55 pattern)
    "q86_stream_ohlc_parity" -> ohlcOracle,
    // q86's candle replay under RocksDB — same oracle, by reference
    // (the q154/q160 rationale).
    "q164_stream_ohlc_tws" -> ohlcOracle,
    // Watermark-finalized candles (append mode): the q116 retention
    // contract (accepted-late copies merge, stale rows drop — the
    // sentinels push the watermark past every real window, so all of
    // them finalize) applied to the q80/q86 candle relation. rn ties
    // between an original and its accepted duplicate carry the same
    // value, so open/close are unambiguous; n_ticks and volume count
    // the copy — exactly what the stream's merged buffer holds.
    "q165_stream_ohlc_finalize" ->
      """WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
           late AS (
             SELECT e.event_type, e.ts, e.event_id, e.value, e.user_id
             FROM events e, m
             WHERE e.event_id % 4 = 1
               AND epoch_us(e.ts) >= m.max_us - 3600000000),
           allrows AS (
             SELECT event_type, ts, event_id, value, user_id FROM events
             UNION ALL
             SELECT event_type, ts, event_id, value, user_id FROM late),
           b AS (
             SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
               value, user_id,
               row_number() OVER w AS rn,
               count(*) OVER (
                 PARTITION BY event_type, date_trunc('hour', ts)) AS n
             FROM allrows
             WINDOW w AS (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts, event_id))
           SELECT event_type, hour,
             max(CASE WHEN rn = 1 THEN value END) AS open,
             max(value) AS high,
             min(value) AS low,
             max(CASE WHEN rn = n THEN value END) AS close,
             CAST(sum(user_id) AS BIGINT) AS volume,
             count(*) AS n_ticks
           FROM b GROUP BY event_type, hour
           ORDER BY event_type, hour""",
    // q117 replays the same rows through the stream-stream join state
    // machine; the parity claim IS "same pairs as the batch interval
    // join", so the oracle is q44's verbatim (same 5-minute window, same
    // aggregation shape).
    "q117_stream_interval_join" ->
      """SELECT p.event_id AS p_id, count(*) AS n_clicks,
                min(c.event_id) AS min_click_id
         FROM events p JOIN events c
           ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 5 MINUTE
         WHERE p.event_type = 'purchase' AND c.event_type = 'click'
         GROUP BY p.event_id ORDER BY p_id""",
    // The LEFT JOIN form of q44/q117's oracle: every purchase appears,
    // unmatched ones with n_clicks=0 and a null min id — exactly what the
    // eviction-driven null emission must reconstruct.
    "q118_stream_outer_join" ->
      """SELECT p.event_id AS p_id,
                count(c.event_id) AS n_clicks,
                coalesce(min(c.event_id), -1) AS min_click_id
         FROM (SELECT * FROM events WHERE event_type = 'purchase') p
         LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
           ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 5 MINUTE
         GROUP BY p.event_id ORDER BY p_id""",
    // Full outer = q118's purchase arm UNION the never-matched clicks:
    // a click row emits the orphan arm iff NO purchase precedes it
    // within the 5-minute window (exactly the streaming right-null
    // eviction rule).
    "q148_stream_full_outer_join" ->
      """WITH p AS (SELECT event_id, ts FROM events
                    WHERE event_type = 'purchase'),
         c AS (SELECT event_id, ts FROM events WHERE event_type = 'click'),
         pc AS (SELECT p.event_id AS id,
                  count(c.event_id) AS n_clicks,
                  coalesce(min(c.event_id), -1) AS min_click_id
                FROM p LEFT JOIN c
                  ON c.ts >= p.ts AND c.ts < p.ts + INTERVAL 5 MINUTE
                GROUP BY p.event_id),
         orph AS (SELECT c.event_id AS id FROM c
                  WHERE NOT EXISTS (SELECT 1 FROM p
                    WHERE c.ts >= p.ts
                      AND c.ts < p.ts + INTERVAL 5 MINUTE))
         SELECT 'click_orphan' AS side, id, CAST(0 AS BIGINT) AS n_clicks,
           CAST(-1 AS BIGINT) AS min_click_id FROM orph
         UNION ALL
         SELECT 'purchase' AS side, id, n_clicks, min_click_id FROM pc
         ORDER BY side, id""",
    // The planted duplicates are verbatim copies, so the deduped stream
    // must equal the original events table — no dedup in the oracle at
    // all; any state miss (a copy surviving, or a first arrival lost)
    // breaks the count or the id sum.
    "q111_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM events GROUP BY event_type ORDER BY event_type""",
    // The all-batch form of the stream-static enrichment: the streamed
    // join+aggregate's final snapshot must reproduce this relation
    // exactly — a dim row missed in any micro-batch breaks a counter.
    "q131_stream_static_enrich" ->
      """SELECT n.n_name, count(*) AS n_events,
           CAST(sum(e.user_id) AS BIGINT) AS user_id_sum,
           CAST(sum(e.event_id) AS BIGINT) AS event_id_sum
         FROM events e
         JOIN customer c ON e.user_id = c.c_custkey
         JOIN nation n ON c.c_nationkey = n.n_nationkey
         GROUP BY n.n_name ORDER BY n.n_name""",
    // The two-element unnest replicates window(2h, 1h)'s per-row
    // assignment: starts at trunc(hour) and trunc(hour)-1h, both always
    // inside (ts - 2h, ts] since size/slide = 2.
    "q133_sliding_windows" ->
      """WITH w AS (
           SELECT event_type, user_id, event_id,
             unnest([date_trunc('hour', ts),
                     date_trunc('hour', ts) - INTERVAL 1 HOUR]) AS ws
           FROM events)
         SELECT strftime(ws, '%Y-%m-%d %H:00') AS win_start, event_type,
           count(*) AS n,
           CAST(sum(user_id) AS BIGINT) AS user_sum,
           CAST(sum(event_id) AS BIGINT) AS id_sum
         FROM w GROUP BY 1, 2 ORDER BY win_start, event_type""",
    // The watermark's retention predicate, replayed in SQL: phase-1 rows
    // all count once (watermark still unset when they arrive); the >=3h-old
    // copies (id%9) are NOT here because the stream must drop them; the
    // <=1h-old copies (id%4=1) ARE here because the stream must merge them
    // into their still-open windows. Window start = hour truncation of the
    // µs-anchored event time — identical on both engines.
    "q116_stream_watermark" ->
      """WITH m AS (SELECT max(epoch_us(ts)) AS max_us FROM events),
         late AS (
           SELECT e.event_type, e.ts, e.event_id, e.user_id
           FROM events e, m
           WHERE e.event_id % 4 = 1
             AND epoch_us(e.ts) >= m.max_us - 3600000000
         ),
         allrows AS (
           SELECT event_type, ts, event_id, user_id FROM events
           UNION ALL SELECT event_type, ts, event_id, user_id FROM late
         )
         SELECT event_type,
           strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00') AS hour,
           count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM allrows GROUP BY event_type, hour
         ORDER BY event_type, hour""",
    // The emitted relation under TTL dedup: the original corpus (unique
    // ids emit once; planted duplicate copies suppress or late-drop —
    // phase design makes every row's fate static) plus the fresh
    // above-watermark plants. Stale plants of BOTH kinds drop.
    "q153_stream_dedup_ttl" -> ttlDedupOracle,
    // same oracle, by reference: the q154 rationale for the
    // EVICTION-bearing semantics — q153's operator under RocksDB keeps
    // one late-drop/suppress/evict contract
    "q157_stream_dedup_ttl_tws" -> ttlDedupOracle,
    // The sink round trips are identity relations: the oracle aggregates
    // the SOURCE table; the gate aggregates what the sink wrote and read
    // back. Integer-exact measures (plus a decimal-anchored double for
    // acctbal) keep the hash byte-stable.
    "q119_parquet_sink_roundtrip" ->
      """SELECT event_type AS symbol, count(*) AS n_trades,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(user_id) AS BIGINT) AS vol_sum
         FROM events GROUP BY event_type ORDER BY symbol""",
    // q199: the ETL round trip's latest_indicators — indicators
    // re-derived from the same CSV bytes (the q16 oracle shape at
    // period 5), the single batch stamp hardcoded at the gate's pinned
    // nowMs * 1e6, signal thresholds on the RAW rsi.
    "q199_etl_latest_indicators" ->
      s"""WITH raw AS (
           SELECT * FROM read_csv('$etlCsvDir/*.csv',
                                  header=true, all_varchar=true)
         ), parsed AS (
           SELECT CAST(trade_id AS BIGINT) AS trade_id,
                  trim(symbol) AS symbol,
                  CAST(price AS DOUBLE) AS price,
                  CAST(volume AS INTEGER) AS volume,
                  CAST("timestamp" AS BIGINT) AS ts
           FROM raw
         ), ordered AS (
           SELECT symbol, price, ts, trade_id,
             price - lag(price) OVER w AS d,
             avg(price) OVER (
               w ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS sma_run,
             row_number() OVER w AS rn,
             count(*) OVER (PARTITION BY symbol) AS n,
             sum(price * volume) OVER (PARTITION BY symbol) /
               CAST(sum(volume) OVER (PARTITION BY symbol) AS DOUBLE)
               AS vwap_all
           FROM parsed
           WINDOW w AS (PARTITION BY symbol ORDER BY ts, trade_id)
         ), lastrows AS (
           SELECT * FROM ordered WHERE rn = n
         ), diffs AS (
           SELECT symbol,
             CASE WHEN d > 0 THEN d ELSE 0 END AS gain,
             CASE WHEN d < 0 THEN -d ELSE 0 END AS loss
           FROM ordered
           WHERE rn > n - 5 AND d IS NOT NULL
         ), rsi AS (
           SELECT symbol,
             CASE WHEN sum(loss) = 0 THEN 100.0
                  ELSE 100.0 - 100.0 / (1.0 + avg(gain) / avg(loss))
             END AS r
           FROM diffs GROUP BY symbol
         )
         SELECT l.symbol,
           round(l.sma_run, 4) AS sma,
           round(coalesce(r.r, 50.0), 4) AS rsi,
           round(l.vwap_all, 4) AS vwap,
           CAST(least(5, l.n) AS INTEGER) AS period,
           CAST(l.n AS BIGINT) AS n_rows,
           CAST(1700000000000000000 AS BIGINT) AS computed_at,
           CASE WHEN coalesce(r.r, 50.0) >= 70 THEN 'OVERBOUGHT'
                WHEN coalesce(r.r, 50.0) <= 30 THEN 'OVERSOLD'
                ELSE 'NEUTRAL' END AS signal
         FROM lastrows l LEFT JOIN rsi r ON l.symbol = r.symbol
         ORDER BY l.symbol""",
    // q200: RELIANCE's total-ordered history off the read-back trades
    // parquet — row_number pins the (ts, trade_id) order itself.
    "q200_etl_symbol_history" ->
      s"""WITH raw AS (
           SELECT * FROM read_csv('$etlCsvDir/*.csv',
                                  header=true, all_varchar=true)
         ), parsed AS (
           SELECT CAST(trade_id AS BIGINT) AS trade_id,
                  CAST(order_id AS BIGINT) AS order_id,
                  CAST("timestamp" AS BIGINT) AS ts,
                  trim(symbol) AS symbol,
                  CAST(price AS DOUBLE) AS price,
                  CAST(volume AS INTEGER) AS volume,
                  trim(side) AS side, trim("type") AS type,
                  COALESCE(lower(trim(is_pro)) IN ('1', 'true'), FALSE)
                    AS is_pro
           FROM raw
         ), h AS (
           SELECT *, row_number() OVER (ORDER BY ts, trade_id) AS rn
           FROM parsed WHERE symbol = 'RELIANCE'
         )
         SELECT CAST(rn AS INTEGER) AS rn, trade_id, order_id,
           ts AS "timestamp", price, volume, side, type, is_pro
         FROM h WHERE rn <= 5000 ORDER BY rn""",
    // Independent re-derivation of the CSV wire contract: DuckDB's own
    // csv reader over the SAME files (all_varchar -- the raw tokens),
    // then the silent defaults (TRY_CAST+COALESCE == from_chars
    // zero-init; ''->'N'/'M'/false char defaults) and the 6 ordered
    // first-failure rules in one CASE. regexp_full_match == the
    // reference's CTRE full match == Spark's anchored rlike.
    "q184_csv_silent_defaults" ->
      s"""WITH raw AS (
           SELECT * FROM read_csv('$csvGateDir/*.csv',
                                  header=true, all_varchar=true)
         ), parsed AS (
           SELECT COALESCE(TRY_CAST(trade_id AS BIGINT), 0) AS trade_id,
                  COALESCE(TRY_CAST("timestamp" AS BIGINT), 0) AS ts,
                  COALESCE(trim(symbol), '') AS symbol,
                  COALESCE(TRY_CAST(price AS DOUBLE), 0.0) AS price,
                  COALESCE(TRY_CAST(volume AS INTEGER), 0) AS volume,
                  CASE WHEN side IS NULL OR trim(side) = '' THEN 'N'
                       ELSE trim(side) END AS side,
                  CASE WHEN "type" IS NULL OR trim("type") = '' THEN 'M'
                       ELSE trim("type") END AS type,
                  COALESCE(lower(trim(is_pro)) IN ('1', 'true'), FALSE)
                    AS is_pro
           FROM raw
         ), flagged AS (
           SELECT *,
             CASE
               WHEN NOT regexp_full_match(symbol, '[A-Z]{1,10}')
                 THEN 'invalid_symbol'
               WHEN NOT (price > 0 AND price < 1000000)
                 THEN 'invalid_price'
               WHEN NOT (volume > 0) THEN 'invalid_volume'
               WHEN side NOT IN ('B', 'S', 'N') THEN 'invalid_side'
               WHEN type NOT IN ('M', 'L', 'I') THEN 'invalid_type'
               WHEN NOT (ts > 0) THEN 'invalid_timestamp'
               ELSE 'ok' END AS outcome
           FROM parsed
         )
         SELECT outcome, symbol, side, type, is_pro,
                count(*) AS n,
                CAST(sum(volume) AS BIGINT) AS vol_sum,
                CAST(sum(trade_id) AS BIGINT) AS id_sum,
                CAST(min(ts) AS BIGINT) AS min_ts,
                CAST(max(ts) AS BIGINT) AS max_ts,
                CAST(round(sum(CAST(price AS DECIMAL(18,2))), 2) AS DOUBLE)
                  AS price_sum
         FROM flagged
         GROUP BY outcome, symbol, side, type, is_pro
         ORDER BY outcome, symbol, side, type, is_pro""",
    "q120_jdbc_sink_roundtrip" ->
      """SELECT CAST(c_nationkey AS INTEGER) AS nation_key,
           count(*) AS n_customers,
           CAST(sum(c_custkey) AS BIGINT) AS cust_sum,
           CAST(round(sum(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE)
             AS acctbal_sum
         FROM customer GROUP BY c_nationkey ORDER BY nation_key""",
    // The SOURCE relation's aggregate: exactly-once delivery through the
    // streaming JDBC sink (incl. the simulated crash replay) is the only
    // way the read-back table matches it.
    "q123_stream_jdbc_sink" ->
      """SELECT event_type, count(*) AS n_events,
           CAST(sum(event_id) AS BIGINT) AS id_sum,
           CAST(sum(user_id) AS BIGINT) AS user_sum
         FROM events WHERE event_id % 5 = 0
         GROUP BY event_type ORDER BY event_type"""
  )

}
