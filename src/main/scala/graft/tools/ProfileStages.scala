package graft.tools

import graft.operators.{Indicators, IndicatorAggregator, TradeRules, Validation}
import graft.sources.{TradeCsv, TradeGenerator}
import org.apache.spark.storage.StorageLevel

/** Stage-bench profiler: separates fixed per-query overhead (analysis +
  * codegen + JIT, paid once per plan shape) from data throughput (what
  * actually scales with input size). The reference's stage numbers
  * (README.md:15-19) are AOT-compiled C++ loops over in-memory vectors —
  * they pay no per-query compilation — so the apples-to-apples comparison
  * is Spark's steady-state run, with the cold run reported alongside.
  *
  * Run: sbt "runMain graft.tools.ProfileStages [nRows]"
  */
object ProfileStages {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 1000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-profilestages", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.conf.set("spark.sql.files.maxPartitionBytes", (4 * 1024 * 1024).toString)
    spark.range(1000).selectExpr("sum(id)").collect()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def report(name: String, reps: Int = 3)(body: => Unit): Unit = {
      val cold = timed(body)
      val warm = (1 to reps).map(_ => timed(body)).min
      println(f"[profile] $name%-34s cold=$cold%7.3f s  warm=$warm%7.3f s")
    }

    val tmp = java.nio.file.Files.createTempDirectory("graft-profile").toString
    val csvDir = s"$tmp/trades_csv"
    TradeCsv.write(TradeGenerator.generate(spark, n), csvDir)

    // ---- parse ----
    report("parse_csv_count") { TradeCsv.read(spark, csvDir).count() }

    val parsed = TradeCsv.read(spark, csvDir).persist(StorageLevel.MEMORY_AND_DISK)
    parsed.count()

    // ---- validate variants ----
    val validQ = Validation.split(parsed, TradeRules.rules).valid
    report("validate_cache_count") { validQ.count() }

    // parquet-backed input instead of in-memory cache
    val pqDir = s"$tmp/trades.parquet"
    parsed.write.mode("overwrite").parquet(pqDir)
    val fromPq = spark.read.parquet(pqDir)
    val validPq = Validation.split(fromPq, TradeRules.rules).valid
    report("validate_parquet_count") { validPq.count() }

    // predicate-only cost probe: same scan, trivially-true predicate
    import org.apache.spark.sql.functions._
    report("cache_scan_count_baseline") {
      parsed.filter(col("trade_id") >= 0L).count()
    }
    // regex-only probe
    report("cache_regex_only") {
      parsed.filter(col("symbol").rlike("^[A-Z]{1,10}$")).count()
    }

    // ---- indicators variants ----
    val valid = validQ.persist(StorageLevel.MEMORY_AND_DISK)
    valid.count()
    report("indicators_tail") {
      Indicators.summaryTail(valid, Seq("symbol"), "price", Some("volume"),
        Seq("timestamp", "trade_id"), period = 5).count()
    }
    report("indicators_window") {
      Indicators.summary(valid, Seq("symbol"), "price", Some("volume"),
        Seq("timestamp", "trade_id"), period = 5).count()
    }
    report("indicators_singlepass") {
      IndicatorAggregator.summary(valid, "symbol", "price", Some("volume"),
        "timestamp", "trade_id", period = 5).count()
    }
    val validPqC = validPq
    report("indicators_tail_parquet") {
      Indicators.summaryTail(validPqC, Seq("symbol"), "price", Some("volume"),
        Seq("timestamp", "trade_id"), period = 5).count()
    }

    // ---- sink ----
    report("parquet_sink", reps = 2) {
      valid.write.mode("overwrite").parquet(s"$tmp/out.parquet")
    }

    spark.stop()
  }
}
