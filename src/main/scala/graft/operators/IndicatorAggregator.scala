package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Single-pass aggregation of SMA/RSI/VWAP — the aggregate form of
  * Indicators.summary (SURVEY.md §2.8): identical output, different
  * physical plan.
  *
  * The window formulation shuffles rows to their group and SORTS each
  * partition; this one is a hash aggregation with BOUNDED per-group state —
  * running vwap sums plus the top-(period+1) rows by (ts, id) kept in a
  * small sorted buffer. Partial aggregation (map-side combine) applies, so
  * at 100 TB each group ships one ~period-sized buffer per map task instead
  * of every row through a sort. Use when only the group summary is needed;
  * use the window form when per-row indicator columns are wanted.
  *
  * The buffer algebra (emptyBuf/mergePoint/mergeBufs/finishBuf) is shared
  * with the streaming custom-state operator
  * (StreamingEtl.statefulIndicators) — one semantics, batch and stream.
  */
object IndicatorAggregator {

  final case class Point(key: String, ts: Long, id: Long, price: Double,
      volume: Double)

  final case class Buf(
      pv: Double, v: Double, n: Long,
      // ascending (ts, id); at most period+1 entries, the largest keys
      ts: Array[Long], ids: Array[Long], prices: Array[Double])

  final case class Out(sma: Double, rsi: Double, vwap: Double, period: Int,
      n_rows: Long)

  final case class KeyedOut(symbol: String, sma: Double, rsi: Double,
      vwap: Double, period: Int, n_rows: Long)

  val emptyBuf: Buf = Buf(0.0, 0.0, 0L, Array.empty, Array.empty, Array.empty)

  /** Merge two ascending bounded buffers keeping the LARGEST `cap` keys. */
  private def mergeTop(
      cap: Int,
      ats: Array[Long], aids: Array[Long], aps: Array[Double],
      bts: Array[Long], bids: Array[Long], bps: Array[Double])
      : (Array[Long], Array[Long], Array[Double]) = {
    val total = ats.length + bts.length
    val keep = math.min(cap, total)
    val ts = new Array[Long](keep)
    val ids = new Array[Long](keep)
    val ps = new Array[Double](keep)
    // fill from the back (largest first)
    var i = ats.length - 1; var j = bts.length - 1; var w = keep - 1
    while (w >= 0) {
      val takeA = j < 0 ||
        (i >= 0 && (ats(i) > bts(j) || (ats(i) == bts(j) && aids(i) > bids(j))))
      if (takeA) { ts(w) = ats(i); ids(w) = aids(i); ps(w) = aps(i); i -= 1 }
      else { ts(w) = bts(j); ids(w) = bids(j); ps(w) = bps(j); j -= 1 }
      w -= 1
    }
    (ts, ids, ps)
  }

  def mergePoint(b: Buf, p: Point, period: Int): Buf =
    mergeValues(b, p.ts, p.id, p.price, p.volume, period)

  /** Allocation-free form of [[mergePoint]] (no Point wrapper): the native
    * aggregate expression (functions.IndicatorAggExpr) reads fields
    * straight off InternalRow and merges them here.
    */
  def mergeValues(b: Buf, pTs: Long, pId: Long, pPrice: Double,
      pVolume: Double, period: Int): Buf = {
    val cap = period + 1
    val m = b.ts.length
    val pv = b.pv + pPrice * pVolume
    val v = b.v + pVolume
    val isMax = m == 0 || b.ts(m - 1) < pTs ||
      (b.ts(m - 1) == pTs && b.ids(m - 1) < pId)
    if (isMax && m == cap) {
      // steady-state hot path (time-ordered input, buffer full): shift left
      // in place and append — zero allocation per row. Mutating b's arrays
      // is safe: the native aggregate hands each group's buffer exclusively
      // to update() and replaces it with the return value, and the
      // streaming state's deserializer materializes fresh arrays.
      System.arraycopy(b.ts, 1, b.ts, 0, cap - 1)
      System.arraycopy(b.ids, 1, b.ids, 0, cap - 1)
      System.arraycopy(b.prices, 1, b.prices, 0, cap - 1)
      b.ts(cap - 1) = pTs; b.ids(cap - 1) = pId; b.prices(cap - 1) = pPrice
      Buf(pv, v, b.n + 1, b.ts, b.ids, b.prices)
    } else if (isMax) {
      // growing append: one copy into one-larger arrays
      val ts = java.util.Arrays.copyOf(b.ts, m + 1)
      val ids = java.util.Arrays.copyOf(b.ids, m + 1)
      val ps = java.util.Arrays.copyOf(b.prices, m + 1)
      ts(m) = pTs; ids(m) = pId; ps(m) = pPrice
      Buf(pv, v, b.n + 1, ts, ids, ps)
    } else {
      // out-of-order point: general bounded merge
      val (ts, ids, ps) = mergeTop(cap, b.ts, b.ids, b.prices,
        Array(pTs), Array(pId), Array(pPrice))
      Buf(pv, v, b.n + 1, ts, ids, ps)
    }
  }

  def mergeBufs(a: Buf, b: Buf, period: Int): Buf = {
    val (ts, ids, ps) = mergeTop(period + 1, a.ts, a.ids, a.prices,
      b.ts, b.ids, b.prices)
    Buf(a.pv + b.pv, a.v + b.v, a.n + b.n, ts, ids, ps)
  }

  def finishBuf(b: Buf, period: Int): Out = {
    val ps = b.prices
    val m = ps.length
    // SMA over the last min(period, n) prices
    val smaCount = math.min(period, m)
    var s = 0.0
    var i = m - smaCount
    while (i < m) { s += ps(i); i += 1 }
    val sma = if (smaCount == 0) 0.0 else s / smaCount
    // RSI over consecutive diffs of the (up to period+1)-price window
    var gain = 0.0; var loss = 0.0; var diffs = 0
    i = 1
    while (i < m) {
      val d = ps(i) - ps(i - 1)
      if (d > 0) gain += d else loss -= d
      diffs += 1
      i += 1
    }
    val rsi =
      if (diffs == 0) 50.0
      else if (loss == 0.0) 100.0
      else {
        val rs = (gain / diffs) / (loss / diffs)
        100.0 - 100.0 / (1.0 + rs)
      }
    val vwap = if (b.v == 0.0) 0.0 else b.pv / b.v
    Out(sma, rsi, vwap, math.min(period, b.n).toInt, b.n)
  }

  /** DataFrame adapter mirroring Indicators.summary's signature: one row
    * per group with (groupCol, sma, rsi, vwap, period, n_rows). Runs the
    * NATIVE aggregate expression (functions.IndicatorAggExpr — same
    * algebra, no per-row Point materialization, no product-encoder
    * round-trips).
    */
  def summary(
      df: DataFrame,
      groupCol: String,
      priceCol: String,
      volumeCol: Option[String],
      tsCol: String,
      idCol: String,
      period: Int): DataFrame =
    df.groupBy(col(groupCol))
      .agg(graft.functions.IndicatorAggExpr.indicatorSummary(
        col(tsCol).cast("long"), col(idCol).cast("long"),
        col(priceCol).cast("double"),
        volumeCol.map(v => col(v).cast("double")).getOrElse(lit(1.0)),
        period).as("out"))
      .select(
        col(groupCol),
        col("out.sma").as("sma"),
        col("out.rsi").as("rsi"),
        col("out.vwap").as("vwap"),
        col("out.period").as("period"),
        col("out.n_rows").as("n_rows"))
}
