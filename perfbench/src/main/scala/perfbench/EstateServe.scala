package perfbench

import java.io.File

import graft.operators.{DedupRegistry, NearDupRegistry, Retrieval, Similarity, StableRead}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** estate_serve: one client in a closed loop over the four persisted
  * curation estates (exact-dup registry, near-dup registry, BM25 index,
  * IVF index), writes beside reads on a fixed schedule: each round is one
  * ingest followed by one probe.
  */
object EstateServe {

  private val Families = Seq("dedup", "neardup", "bm25", "ivf")
  private val Nlist = 16
  private val Buckets = 4 // hash buckets of the registries and the BM25 index
  private val K = 10

  private val docSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val spec = Gen.DocSpec()
    val gen = new Gen.DocStream(spec, seed)
    val (baseN, batchN, probeN, queryN) = if (small) (400, 100, 30, 4) else (1000, 250, 40, 8)
    // The warm-up is the base build and one untimed round (an ingest and a
    // probe). Maintenance is due once per family, on the first timed
    // ingest: its chain threshold is one link above its chain length after
    // the warm-up, and is lifted once it has fired. That ingest is then the
    // slowest of the three and the ingest median reads the two that follow.
    val rounds = ctx.rounds(nominalRoundMs = 3400, min = 3)
    val root = Families.map(f => f -> new File(work, s"estate/$f").toString).toMap

    def frame(docs: Seq[Gen.Doc]): DataFrame = spark.createDataFrame(
      java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.vec.toSeq)): _*), docSchema)
    def queryFrame(qs: Seq[(Long, String)]): DataFrame =
      spark.createDataFrame(qs).toDF("query_id", "query_text")
    def vecFrame(n: Int, base: Long): DataFrame = spark.createDataFrame(
      (0 until n).map(i => (base + i, gen.vector().toSeq))).toDF("qid", "qvec")

    // the whole schedule's inputs, generated up front from the seed
    val base = gen.batch(baseN)
    val batches = Vector.fill(rounds + 1)(gen.batch(batchN))
    final case class Probe(q: DataFrame, v: DataFrame, docs: DataFrame)
    val probes = Vector.tabulate(rounds + 1)(i => Probe(queryFrame(gen.queries(queryN)),
      vecFrame(queryN, 1000000000L + i * 1000L),
      frame(gen.probeDocs(probeN, 2000000000L + i * 1000L))))
    val ingested = scala.collection.mutable.ArrayBuffer[Gen.Doc]() ++= base

    // ---- base estate ----
    DedupRegistry.init(spark, root("dedup"), Buckets)
    NearDupRegistry.init(spark, root("neardup"), Buckets)
    Retrieval.bm25Init(spark, root("bm25"), Buckets)
    val baseDf = frame(base)
    Similarity.ivfInit(spark,
      Similarity.trainIvfCentroids(baseDf, "id", "vec", Nlist), root("ivf"))
    val compact: Map[String, () => Unit] = Map(
      "dedup" -> (() => DedupRegistry.compact(spark, root("dedup"))),
      "neardup" -> (() => NearDupRegistry.compact(spark, root("neardup"))),
      "bm25" -> (() => Retrieval.bm25Compact(spark, root("bm25"))),
      "ivf" -> (() => Similarity.ivfCompact(spark, root("ivf"))))
    var fired = 0
    var threshold = Map.empty[String, Int]

    def ingest(df: DataFrame, batchId: Long): Unit = {
      trace.span("operators.DedupRegistry.ingestBatch") {
        DedupRegistry.ingestBatch(root("dedup"), df, "id", "text", batchId) }
      trace.span("operators.NearDupRegistry.ingestBatch") {
        NearDupRegistry.ingestBatch(root("neardup"), df, "id", "text", batchId) }
      trace.span("operators.Retrieval.bm25IngestBatch") {
        Retrieval.bm25IngestBatch(root("bm25"), df, "id", "text", batchId) }
      trace.span("operators.Similarity.ivfIngestBatch") {
        Similarity.ivfIngestBatch(root("ivf"), df, "id", "vec", batchId) }
      Families.foreach { f =>
        trace.span("operators.StableRead.autoMaintain") {
          StableRead.autoMaintain(spark, root(f), compact(f),
            chainThreshold = threshold(f)).foreach { why =>
            fired += 1; log(s"maintenance fired on $f: $why")
            threshold += f -> Int.MaxValue
          }
        }
      }
    }

    def probe(p: Probe): Unit = {
      trace.span("operators.Retrieval.bm25TopKIndexed") {
        Retrieval.bm25TopKIndexed(root("bm25"), p.q, K).collect() }
      trace.span("operators.Similarity.ivfTopKIndexed") {
        Similarity.ivfTopKIndexed(root("ivf"), p.v, "qid", "qvec", K).collect() }
      trace.span("operators.NearDupRegistry.probe") {
        NearDupRegistry.probe(spark, root("neardup"), p.docs, "id", "text")
          .select("id", "is_new").collect() }
      trace.span("operators.DedupRegistry.probe") {
        DedupRegistry.probe(spark, root("dedup"), p.docs, "id", "text")
          .select("id", "is_new").collect() }
    }

    threshold = Families.map(_ -> Int.MaxValue).toMap
    ingest(baseDf, 0L)
    log("base estate built")
    ingest(frame(batches(0)), 1L)
    ingested ++= batches(0)
    probe(probes(0))
    threshold = Families.map(f => f -> (StableRead.maxShardChainLen(spark, root(f)) + 1)).toMap
    log(s"warm-up round done; chain thresholds $threshold")

    // ---- the timed schedule ----
    val ing = new Samples("ingest")
    val prb = new Samples("probe")
    val storage = scala.collection.mutable.ArrayBuffer[(Int, Long, Long, Long)]()
    def round(r: Int): Unit = {
      val docs = batches(r)
      val df = frame(docs)
      val before = if (trace.on) Some(files()) else None
      try { ing.add(trace.op("ingest")(ingest(df, r + 1L))); ingested ++= docs }
      catch { case e: Exception => ing.fail(e) }
      before.foreach { b =>
        val after = files()
        val fresh = after.keySet -- b.keySet
        storage += ((Families.map(f => StableRead.maxShardChainLen(spark, root(f))).max,
          Families.map(f => StableRead.retiredBytes(spark, root(f))).sum,
          fresh.size.toLong, fresh.toSeq.map(after).sum))
      }
      try prb.add(trace.op("probe")(probe(probes(r))))
      catch { case e: Exception => prb.fail(e) }
      log(f"ingest ${ing.ms.last}%.0f ms, probe ${prb.ms.last}%.0f ms")
    }
    def files(): Map[String, Long] = {
      val m = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isFile) m += f.getPath -> f.length
        else Option(f.listFiles).foreach(_.foreach(walk))
      walk(new File(work, "estate")); m.result()
    }

    val firstTimed = System.currentTimeMillis()
    val t0 = System.nanoTime()
    (1 to rounds).foreach(round)
    val loopS = (System.nanoTime() - t0) / 1e9
    val heap = heapAfterGc()
    log("timed phase done")
    val timedDocs = batchN.toLong * ing.ms.count(!_.isInfinite)

    // ---- output checks (untimed) ----
    val all = frame(ingested.toSeq)
    val total = ingested.size.toLong
    val distinct = ingested.map(_.text).distinct.size.toLong
    val finalQ = queryFrame(gen.queries(queryN))
    val finalV = vecFrame(queryN, 3000000000L)
    def rows(df: DataFrame, cols: String*): Seq[(Long, Long, Double)] =
      df.select(cols.map(col): _*).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val bm25Got = {
      val g = rows(Retrieval.bm25TopKIndexed(root("bm25"), finalQ, K), "query_id", "doc_id", "score")
      if (corrupt) g.drop(1) else g
    }
    log("bm25 indexed probe done")
    val bm25Want = rows(Retrieval.bm25TopK(all, "id", "text", finalQ, K), "query_id", "doc_id", "score")
    log("bm25 reference done")
    val ivfGot = rows(Similarity.ivfTopKIndexed(root("ivf"), finalV, "qid", "qvec", K, nprobe = Nlist),
      "qid", "id", "sim")
    val ivfWant = rows(Similarity.bruteForceTopK(all, "id", "vec", finalV, "qid", "qvec", K),
      "qid", "id", "sim")
    log("ivf checks done")
    def stats(f: String): Row = StableRead.readTable(spark, root(f), "stats").collect()(0)
    val dedup = stats("dedup")
    val near = stats("neardup")
    val bm25Stats = stats("bm25")
    val (ok, why) = Main.verdict(Seq(
      "bm25TopKIndexed == bm25TopK over the ingested docs" -> sameTopK(bm25Got, bm25Want, 1e-3),
      "ivfTopKIndexed(nprobe = nlist) == bruteForceTopK" -> sameTopK(ivfGot, ivfWant, 1e-9),
      "dedup registry n_docs == exact distinct texts" ->
        (dedup.getAs[Long]("n_docs") == distinct),
      "dedup registry n_docs + n_dropped == ingested" ->
        (dedup.getAs[Long]("n_docs") + dedup.getAs[Long]("n_dropped") == total),
      "near-dup registry n_docs + n_dropped == ingested" ->
        (near.getAs[Long]("n_docs") + near.getAs[Long]("n_dropped") == total),
      "near-dup registry n_docs <= exact distinct texts" ->
        (near.getAs[Long]("n_docs") <= distinct),
      "bm25 index n_docs == ingested" -> (bm25Stats.getAs[Long]("n_docs") == total),
      "maintenance fired in the timed phase" -> (small || fired > 0)))

    log("checks done")
    val userBytes = ingested.map(d => d.text.getBytes("UTF-8").length + 8L * d.vec.length).sum
    val stored = Main.du(new File(work, "estate"))._2
    val e2e = Map(
      "setup_s" -> setupS(firstTimed),
      "op_p50_ms" -> prb.p50,
      "ingest_p50_ms" -> ing.p50,
      "probe_p50_ms" -> prb.p50,
      "work_per_s" -> M(timedDocs / loopS, "1/s"),
      "stored_bytes_per_user_byte" -> M(stored.toDouble / userBytes, "ratio"),
      "heap_after_gc_mb" -> heap)
    val layers = trace.report(Seq("ingest", "probe"), Map(
      "operators.StableRead.autoMaintain_fired" -> fired.toDouble,
      "operators.StableRead.maxShardChainLen" -> Stats.median(storage.map(_._1.toDouble).toSeq),
      "operators.StableRead.retiredBytes" -> Stats.median(storage.map(_._2.toDouble).toSeq),
      "estate.files_written" -> Stats.median(storage.map(_._3.toDouble).toSeq),
      "estate.bytes_written" -> Stats.median(storage.map(_._4.toDouble).toSeq)))
    Outcome(ok, ing.ms.size + prb.ms.size, ing.failed + prb.failed, e2e ++ layers,
      Seq(ing.note, prb.note,
        f"rounds=$rounds timed loop=$loopS%.2f s docs=$total distinct=$distinct " +
          f"near-dup n_docs=${near.getAs[Long]("n_docs")} maintenance fired=$fired " +
          f"stored=$stored B user=$userBytes B") ++ why)
  }

  /** Two top-k relations agree: per query the same score list (within
    * `tol`), and the same ids wherever the score is not tied with the k-th
    * (ties at the cut may legally break either way).
    */
  def sameTopK(got: Seq[(Long, Long, Double)], want: Seq[(Long, Long, Double)],
      tol: Double): Boolean = {
    val g = got.groupBy(_._1); val w = want.groupBy(_._1)
    g.keySet == w.keySet && w.forall { case (q, ws) =>
      val gs = g(q)
      val gScores = gs.map(_._3).sorted; val wScores = ws.map(_._3).sorted
      gScores.size == wScores.size &&
        gScores.zip(wScores).forall { case (a, b) => math.abs(a - b) <= tol } && {
          val cut = wScores.head + tol
          gs.filter(_._3 > cut).map(_._2).toSet == ws.filter(_._3 > cut).map(_._2).toSet
        }
    }
  }
}
