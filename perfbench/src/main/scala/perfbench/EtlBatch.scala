package perfbench

import java.io.File

import graft.operators.{TradeRules, Validation}
import graft.pipeline.BatchEtl
import graft.sources.TradeCsv

/** etl_batch: one client in a closed loop. Each round is an ingest, one
  * `BatchEtl.run` of the seeded trade CSV into a fresh output directory,
  * then a probe, the pipeline's four analytics queries over that output,
  * each evaluated in full into a no-op sink.
  */
object EtlBatch {

  private val NowMs = 1700000000000L // fixed run stamp: identical output paths

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val n = if (small) 50000L else 500000L
    val csv = new File(work, "trades_csv")
    val in = Gen.tradesCsv(csv, n, files = 8, seed, invalidShare = 0.02)
    // the warm-up runs the same plans over a tenth of the rows: code
    // generation and class loading do not scale with the input
    val warmCsv = new File(work, "warm_csv")
    Gen.tradesCsv(warmCsv, n / 10, files = 8, seed + 1, invalidShare = 0.02)
    val rounds = ctx.rounds(nominalRoundMs = 2000, min = 3)
    log("inputs generated")
    val ingest = new Samples("ingest (BatchEtl.run)")
    val probe = new Samples("probe (BatchEtl.analytics)")
    var last: Option[BatchEtl.Result] = None

    def round(i: Int, timed: Boolean): Unit = {
      val out = new File(work, s"out_$i")
      val input = if (timed) csv else warmCsv
      def etl(): Unit = last = Some(trace.span("pipeline.BatchEtl.run") {
        BatchEtl.run(spark, input.toString, out.toString, nowMs = NowMs)
      })
      def analytics(): Unit = last.foreach { r =>
        val q = BatchEtl.analytics(spark.read.parquet(r.tradesPath),
          spark.read.parquet(r.indicatorsPath))
        q.toSeq.sortBy(_._1).foreach { case (name, df) =>
          trace.span(s"pipeline.BatchEtl.analytics.$name") {
            df.write.format("noop").mode("overwrite").save()
          }
        }
      }
      if (!timed) etl()
      else {
        try ingest.add(trace.op("ingest")(etl())) catch { case e: Exception => ingest.fail(e) }
        try probe.add(trace.op("probe")(analytics())) catch { case e: Exception => probe.fail(e) }
      }
      if (i > 0) Main.deleteTree(new File(work, s"out_${i - 1}"))
    }

    round(0, timed = false)
    log("warm-up done")
    val firstTimed = System.currentTimeMillis()
    val t0 = System.nanoTime()
    (1 to rounds).foreach(i => round(i, timed = true))
    val loopS = (System.nanoTime() - t0) / 1e9
    val heap = heapAfterGc()
    log("timed phase done")

    // ---- output checks (untimed) ----
    val r = last.get
    val got = if (corrupt) r.copy(validCount = r.validCount + 1) else r
    val report = Validation.report(TradeCsv.read(spark, csv.toString), TradeRules.rules)
      .collect().map(row => row.getString(0) -> row.getLong(1)).toMap
    val written = spark.read.parquet(got.tradesPath).count()
    val (ok, why) = Main.verdict(Seq(
      "valid + rejected == input rows" ->
        (got.validCount + got.rejectedByReason.values.sum == n),
      "rejects == planted corruptions" -> (got.rejectedByReason == in.rejects),
      "rejects == Validation.report" ->
        (got.rejectedByReason == (report - "valid")),
      "valid == Validation.report" -> (report.get("valid").contains(got.validCount)),
      "written trades == valid" -> (written == got.validCount),
      "one indicator row per symbol" -> (got.indicatorRows == Gen.symbols.size)))
    log("checks done")
    val outBytes = Main.du(new File(got.tradesPath))._2 + Main.du(new File(got.indicatorsPath))._2

    val e2e = Map(
      "setup_s" -> setupS(firstTimed),
      "op_p50_ms" -> ingest.p50,
      "ingest_p50_ms" -> ingest.p50,
      "probe_p50_ms" -> probe.p50,
      "work_per_s" -> M(n * ingest.ms.count(!_.isInfinite) / (ingest.ms.filter(!_.isInfinite).sum / 1000.0), "1/s"),
      "stored_bytes_per_user_byte" -> M(outBytes.toDouble / in.bytes, "ratio"),
      "heap_after_gc_mb" -> heap)
    val layers = trace.report(Seq("ingest", "probe"))
    Outcome(ok, ingest.ms.size + probe.ms.size, ingest.failed + probe.failed,
      e2e ++ layers,
      Seq(ingest.note, probe.note,
        f"rounds=$rounds timed loop=$loopS%.2f s input=$n trades ${in.bytes} B") ++ why)
  }
}
