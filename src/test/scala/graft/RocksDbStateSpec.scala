package graft

/** The replay gates run on the default (HDFS-backed, in-heap) state store;
  * production streaming state at 100 TB/day runs on RocksDB (off-heap,
  * incremental-checkpoint — the provider that keeps executor heap flat when
  * keyed state outgrows memory). Spark ships it in-box (rocksdbjni). This
  * spec re-runs driver gates under the RocksDB provider and pins
  * bit-identical output, so the provider is a deployment knob, not a
  * semantics change:
  *   - q55: flatMapGroupsWithState custom keyed state (indicator buffers)
  *   - q111: dropDuplicates state (planted cross-batch duplicates)
  *   - q117: stream-stream interval join state (two sources)
  *   - q86: flatMapGroupsWithState OHLC bar buffers
  *   - q92: session-window intervals (merge + gap close)
  *   - q116: watermark advancement — late-row DROP and window finalize
  *   - q118: left-outer join eviction-driven null emission (the most
  *     state-machinery-dependent semantics in the engine: outer nulls
  *     exist only because the store evicts on watermark, SPARK-24699)
  *   - q131: stream-static enrichment — the dim join itself is
  *     stateless, but the downstream keyed counters live in the store
  *   - q148: full-outer join — BOTH eviction directions (left-null and
  *     right-null emission) in one query
  * The four "transformWithState …" cases compare a RocksDB-pinned gate
  * (q154, q157, q160, q164) with its default-store twin gate.
  */
class RocksDbStateSpec extends SparkSpec {
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val rocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def underRocksDb[A](body: => A): A = {
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey, rocksDb)
    try body
    finally prev match {
      case Some(v) => spark.conf.set(providerKey, v)
      case None => spark.conf.unset(providerKey)
    }
  }

  private def runBoth(query: String): (Seq[String], Seq[String]) = {
    val dir = "/root/testdata/sf0.001"
    val default = SparkEntry.queries(query)(spark, dir)
      .collect().toSeq.map(_.toString).sorted
    val rocks = underRocksDb {
      SparkEntry.queries(query)(spark, dir)
        .collect().toSeq.map(_.toString).sorted
    }
    (default, rocks)
  }

  test("q55 keyed-state indicator replay is identical under RocksDB") {
    val (default, rocks) = runBoth("q55_stream_parity")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q111 streaming-dedup state is identical under RocksDB") {
    val (default, rocks) = runBoth("q111_stream_dedup")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q117 stream-stream join state is identical under RocksDB") {
    val (default, rocks) = runBoth("q117_stream_interval_join")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q131 stream-static enrich aggregation state is identical under RocksDB") {
    val (default, rocks) = runBoth("q131_stream_static_enrich")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q86 OHLC keyed-state buffers are identical under RocksDB") {
    val (default, rocks) = runBoth("q86_stream_ohlc_parity")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q92 session-window state is identical under RocksDB") {
    val (default, rocks) = runBoth("q92_stream_sessions")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q116 watermark drop/finalize is identical under RocksDB") {
    val (default, rocks) = runBoth("q116_stream_watermark")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("q118 outer-join eviction nulls are identical under RocksDB") {
    val (default, rocks) = runBoth("q118_stream_outer_join")
    // the left-outer gate's value is the eviction-driven no-match rows
    // (n_clicks=0, min_click_id=-1 — the gate maps outer nulls to the -1
    // sentinel for hash stability) — make sure the RocksDB run actually
    // exercised that path, not just matched on an all-inner corpus
    assert(rocks.nonEmpty && rocks === default)
    assert(rocks.exists(_.endsWith(",0,-1]")),
      "outer-join gate produced no no-match rows under RocksDB")
  }

  test("transformWithState indicator replay equals the flatMapGroupsWithState path") {
    // one state machine, two providers: the q154 gate (q55's
    // flatMapGroupsWithState replay, RocksDB-pinned by the gate itself)
    // must reproduce the q55 gate's default-store relation exactly
    val dir = "/root/testdata/sf0.001"
    val old = SparkEntry.queries("q55_stream_parity")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val tws = SparkEntry.queries("q154_stream_indicators_tws")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(tws.nonEmpty && tws === old)
  }

  test("q153 TTL-dedup state (suppress/late-drop/evict) is identical under RocksDB") {
    val (default, rocks) = runBoth("q153_stream_dedup_ttl")
    assert(rocks.nonEmpty && rocks === default)
  }

  test("transformWithState TTL-dedup equals the dropDuplicatesWithinWatermark path") {
    // the q157 gate (dropDuplicatesWithinWatermark, RocksDB-pinned) must
    // reproduce the q153 gate (default store) relation exactly — same
    // phases, same late-drop/suppress/evict contract, two providers
    val dir = "/root/testdata/sf0.001"
    val old = SparkEntry.queries("q153_stream_dedup_ttl")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val tws = SparkEntry.queries("q157_stream_dedup_ttl_tws")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(tws.nonEmpty && tws === old)
  }

  test("transformWithState session replay equals the flatMapGroupsWithState path") {
    // the q160 gate must reproduce the q92 gate relation exactly — the
    // order-invariant interval algebra on both state-store providers
    val dir = "/root/testdata/sf0.001"
    val old = SparkEntry.queries("q92_stream_sessions")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val tws = SparkEntry.queries("q160_stream_sessions_tws")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(tws.nonEmpty && tws === old)
  }

  test("transformWithState OHLC replay equals the windowed-aggregation path") {
    // the q164 gate (q86's windowed OhlcAggExpr replay, RocksDB-pinned)
    // must reproduce the q86 gate (default store) relation exactly —
    // one candle algebra on both state-store providers
    val dir = "/root/testdata/sf0.001"
    val win = SparkEntry.queries("q86_stream_ohlc_parity")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    val tws = SparkEntry.queries("q164_stream_ohlc_tws")(spark, dir)
      .collect().map(_.toString).sorted.toSeq
    assert(tws.nonEmpty && tws === win)
  }

  test("q148 full-outer join eviction (both directions) is identical under RocksDB") {
    val (default, rocks) = runBoth("q148_stream_full_outer_join")
    assert(rocks.nonEmpty && rocks === default)
    // both eviction arms must be non-vacuous: a purchase with no click
    // AND a click with no preceding purchase
    assert(rocks.exists(r => r.startsWith("[purchase") && r.endsWith(",0,-1]")),
      "full-outer gate produced no left-null rows under RocksDB")
    assert(rocks.exists(_.startsWith("[click_orphan")),
      "full-outer gate produced no right-null rows under RocksDB")
  }
}
