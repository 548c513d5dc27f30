package graft

import graft.operators.{IndicatorAggregator, Indicators}
import graft.sources.TradeGenerator

/** The single-pass Aggregator must agree with the window formulation on
  * every group of a realistic dataset (same SMA/RSI edge semantics, same
  * clamps), modulo float-sum association order in VWAP.
  */
class IndicatorAggregatorSpec extends SparkSpec {
  import spark.implicits._

  private def close(a: Double, b: Double) =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  test("agrees with the window formulation on generated trades") {
    val trades = TradeGenerator.generate(spark, 20000).repartition(8)
    val byWindow = Indicators.summary(
      trades, Seq("symbol"), "price", Some("volume"),
      Seq("timestamp", "trade_id"), period = 14)
      .select("symbol", "sma", "rsi", "vwap", "period", "n_rows")
      .as[(String, Double, Double, Double, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    val byAgg = IndicatorAggregator.summary(
      trades, "symbol", "price", Some("volume"), "timestamp", "trade_id",
      period = 14)
      .select("symbol", "sma", "rsi", "vwap", "period", "n_rows")
      .as[(String, Double, Double, Double, Int, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(byAgg.keySet === byWindow.keySet)
    byWindow.keySet.foreach { sym =>
      val w = byWindow(sym)
      val a = byAgg(sym)
      assert(close(w._2, a._2), s"$sym sma ${w._2} vs ${a._2}")
      assert(close(w._3, a._3), s"$sym rsi ${w._3} vs ${a._3}")
      assert(close(w._4, a._4), s"$sym vwap ${w._4} vs ${a._4}")
      assert(w._5 === a._5, s"$sym period")
      assert(w._6 === a._6, s"$sym n_rows")
    }
  }

  test("mergePoint buffer algebra is arrival-order-invariant") {
    // drives all three mergePoint paths (in-place full-buffer append,
    // growing append, out-of-order bounded merge) and checks any arrival
    // order folds to the same buffer as sorted arrival
    import IndicatorAggregator.{Point, emptyBuf, mergePoint}
    val rng = new scala.util.Random(11)
    val pts = (1 to 200).map(i =>
      Point("S", ts = (i % 50).toLong, id = i.toLong,
        price = 100.0 + rng.nextInt(100), volume = 1.0 + rng.nextInt(5)))
    val period = 7
    val sorted = pts.sortBy(p => (p.ts, p.id))
      .foldLeft(emptyBuf)((b, p) => mergePoint(b, p, period))
    (0 until 5).foreach { round =>
      val shuffled = new scala.util.Random(round).shuffle(pts)
        .foldLeft(emptyBuf)((b, p) => mergePoint(b, p, period))
      assert(shuffled.ts.toSeq == sorted.ts.toSeq)
      assert(shuffled.ids.toSeq == sorted.ids.toSeq)
      assert(shuffled.prices.toSeq == sorted.prices.toSeq)
      assert(shuffled.n == sorted.n)
      assert(close(shuffled.v, sorted.v))
    }
    assert(sorted.ts.length == period + 1, "buffer should be at cap")
  }

  test("native aggregate coerces INT inputs instead of class-casting") {
    // ExpectsInputTypes: the analyzer must insert casts for int ts/id and
    // int price/volume (previously a runtime ClassCastException)
    val df = Seq((1, 1, 42, 2), (2, 2, 44, 3))
      .toDF("ts", "id", "price", "volume")
    val r = df.agg(graft.functions.IndicatorAggExpr.indicatorSummary(
        $"ts", $"id", $"price", $"volume", period = 5).as("s"))
      .select("s.sma", "s.n_rows").as[(Double, Long)].head()
    assert(r === ((43.0, 2L)))
  }

  test("native aggregate skips rows with ANY null input") {
    // SQL agg null semantics: a partially-null row contributes nothing —
    // a null price unboxed to 0.0 would silently corrupt SMA/RSI/VWAP
    val full = Seq(
      (Some(1L), Some(1L), Some(10.0), Some(1.0)),
      (Some(2L), Some(2L), Option.empty[Double], Some(1.0)), // null price
      (Some(3L), Some(3L), Some(20.0), Option.empty[Double]), // null volume
      (Option.empty[Long], Some(4L), Some(30.0), Some(1.0)), // null ts
      (Some(5L), Option.empty[Long], Some(40.0), Some(1.0)), // null id
      (Some(6L), Some(6L), Some(50.0), Some(2.0)))
      .toDF("ts", "id", "price", "volume")
    val clean = Seq((1L, 1L, 10.0, 1.0), (6L, 6L, 50.0, 2.0))
      .toDF("ts", "id", "price", "volume")
    def run(df: org.apache.spark.sql.DataFrame) =
      df.agg(graft.functions.IndicatorAggExpr.indicatorSummary(
          $"ts", $"id", $"price", $"volume", period = 5).as("s"))
        .select("s.sma", "s.rsi", "s.vwap", "s.n_rows")
        .as[(Double, Double, Double, Long)].head()
    assert(run(full) === run(clean))
    assert(run(full)._4 === 2L)
  }

  test("non-positive period is rejected at construction") {
    intercept[IllegalArgumentException] {
      graft.functions.IndicatorAggExpr.indicatorSummary(
        $"ts", $"id", $"price", $"volume", period = 0)
    }
    intercept[IllegalArgumentException] {
      graft.functions.IndicatorAggExpr.indicatorSummary(
        $"ts", $"id", $"price", $"volume", period = -1)
    }
  }

  test("edge semantics: single row, monotone series") {
    val one = Seq(("S", 1L, 1L, 42.0, 2.0))
      .toDF("symbol", "timestamp", "trade_id", "price", "volume")
    val r1 = IndicatorAggregator.summary(
      one, "symbol", "price", Some("volume"), "timestamp", "trade_id", 5)
      .select("sma", "rsi", "vwap", "period").as[(Double, Double, Double, Int)].head()
    assert(r1 === ((42.0, 50.0, 42.0, 1)))

    val up = (1 to 10).map(i => ("S", i.toLong, i.toLong, i.toDouble, 1.0))
      .toDF("symbol", "timestamp", "trade_id", "price", "volume")
    val r2 = IndicatorAggregator.summary(
      up, "symbol", "price", Some("volume"), "timestamp", "trade_id", 5)
      .select("rsi").as[Double].head()
    assert(r2 === 100.0)
  }
}
