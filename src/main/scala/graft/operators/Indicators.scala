package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing-window technical indicators, generalized over any keyed, ordered
  * numeric series.
  *
  * Semantics follow the reference engine's indicator stage
  * (reference src/indicators/TechnicalIndicators.hpp:79-330):
  *   - SMA  = mean of the last `period` prices of each group
  *     (TechnicalIndicators.hpp:204-224); divisor clamps to group size.
  *   - RSI  = 100 - 100/(1+RS) over the last `period` consecutive diffs
  *     (window = last period+1 prices, TechnicalIndicators.hpp:249-290).
  *     Edge cases reproduced exactly: fewer than 2 prices (no diffs) -> 50.0
  *     (hpp:252-253); zero total loss -> 100.0 (hpp:283-284).
  *   - VWAP = sum(price*volume)/sum(volume) over ALL rows of the group — the
  *     all-history (non-windowed) asymmetry vs SMA/RSI is intentional
  *     reference behavior (TechnicalIndicators.hpp:310-330).
  *   - period column = min(requested, group size) (hpp:125-129).
  *
  * The reference relies on file order within each group; Spark gives no such
  * guarantee under partitioning, so ordering is an explicit required argument
  * (the #1 correctness trap, SURVEY.md §7.1).
  *
  * Scale: one shuffle on the group key (window + final aggregation share it).
  * All expressions are built-in Catalyst functions -> whole-stage codegen.
  */
object Indicators {

  /** Per-group indicator summary: one output row per group, evaluated at the
    * last row in `orderBy` order (exactly what the reference's per-symbol
    * compute_all loop produces).
    *
    * Output columns: groupCols*, sma, rsi, vwap, period, n_rows.
    */
  def summary(
      df: DataFrame,
      groupCols: Seq[String],
      priceCol: String,
      volumeCol: Option[String],
      orderBy: Seq[String],
      period: Int): DataFrame = {
    val gcols = groupCols.map(col)
    val ord = orderBy.map(col)
    val w = Window.partitionBy(gcols: _*).orderBy(ord: _*)
    // Last `period` rows (for SMA) / last `period` diff-carrying rows (RSI).
    val trailing = w.rowsBetween(-(period.toLong - 1), 0)
    val all = Window.partitionBy(gcols: _*)

    val price = col(priceCol)
    val diff = price - lag(price, 1).over(w)
    val gain = when(diff > 0, diff).otherwise(lit(0.0))
    val loss = when(diff < 0, -diff).otherwise(lit(0.0))

    val enriched = df
      .withColumn("__sma", avg(price).over(trailing))
      .withColumn("__gain_sum", sum(when(diff.isNotNull, gain)).over(trailing))
      .withColumn("__loss_sum", sum(when(diff.isNotNull, loss)).over(trailing))
      .withColumn("__diff_cnt", count(diff).over(trailing))
      .withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn(
        "__vwap",
        volumeCol match {
          case Some(v) =>
            sum(price * col(v)).over(all) / sum(col(v)).over(all)
          case None => avg(price).over(all) // volume-less series: plain mean
        })

    val avgGain = col("__gain_sum") / col("__diff_cnt")
    val avgLoss = col("__loss_sum") / col("__diff_cnt")
    val rsi = when(col("__diff_cnt") === 0, lit(50.0))
      .when(col("__loss_sum") === 0, lit(100.0))
      .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + avgGain / avgLoss))

    enriched
      .filter(col("__rn") === col("__n")) // last row of each group
      .select(
        gcols ++ Seq(
          col("__sma").as("sma"),
          rsi.as("rsi"),
          col("__vwap").as("vwap"),
          least(lit(period), col("__n")).cast("int").as("period"),
          col("__n").as("n_rows")): _*)
  }

  /** Rolling SMA per row (keeps every input row) — the row-frame window the
    * reference evaluates only at group end, exposed as a full column for
    * relational use (SURVEY.md §2.5 W1).
    */
  def rollingSma(
      df: DataFrame,
      groupCols: Seq[String],
      priceCol: String,
      orderBy: Seq[String],
      period: Int): DataFrame = {
    val w = Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(orderBy.map(col): _*)
      .rowsBetween(-(period.toLong - 1), 0)
    df.withColumn("sma", avg(col(priceCol)).over(w))
  }

  /** CASE-based RSI signal classification (reference README.md:239-241 and
    * TechnicalIndicators.hpp:156-163).
    */
  def signal(rsi: Column): Column =
    when(rsi >= 70, "OVERBOUGHT").when(rsi <= 30, "OVERSOLD").otherwise("NEUTRAL")
}
