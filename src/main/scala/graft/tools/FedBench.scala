package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prices the FEDERATION PREMIUM of main+delta serving (q173/q174/q182/
  * q183): the federated probe is bit-for-bit the merged probe (spec- and
  * gate-pinned), so the only open question is COST — what does skipping
  * the merge cost per query? Per index the probe does the same pruned
  * reads; the extra work is one stats read per index, per-index bucket
  * pruning of the query terms, and the cross-index df sum (query-terms-
  * sized). The honest claim under test: the premium is a fixed
  * per-index floor, NOT corpus-proportional — so serving N indexes is
  * viable until N grows past the maintenance window that merges them.
  *
  * Run: sbt "runMain graft.tools.FedBench"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object FedBench {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-fedbench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    import spark.implicits._

    val docs = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"), col("text"))
    val emb = graft.Tables.load(spark, baseDir, "embeddings")
    val root = java.nio.file.Files.createTempDirectory("graft-fedbench").toString

    // ---- lexical estate (builds untimed) ----
    graft.operators.Retrieval.buildBm25Index(docs, "doc_id", "text", s"$root/merged")
    graft.operators.Retrieval.buildBm25Index(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", s"$root/b2_base")
    graft.operators.Retrieval.buildBm25Index(
      docs.filter(col("doc_id") % 3 === 0), "doc_id", "text", s"$root/b2_delta",
      buckets = 31) // mixed moduli on purpose (the federated contract)
    (0 until 4).foreach(i => graft.operators.Retrieval.buildBm25Index(
      docs.filter(col("doc_id") % 4 === i), "doc_id", "text", s"$root/b4_$i"))
    val queries = Seq(
      (1L, "spark window merge"), (2L, "customer filter join"),
      (3L, "hash scan order batch"), (4L, "vector data stream data"),
      (5L, "slow query table")).toDF("query_id", "query_text")

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def minOf3(body: => Unit): Double =
      (1 to 3).map(_ => timed(body)).min

    val single = minOf3 {
      graft.operators.Retrieval.bm25TopKIndexed(s"$root/merged", queries, 10)
        .collect() }
    val fed2 = minOf3 {
      graft.operators.Retrieval.bm25TopKFederated(
        spark, Seq(s"$root/b2_base", s"$root/b2_delta"), queries, 10)
        .collect() }
    val fed4 = minOf3 {
      graft.operators.Retrieval.bm25TopKFederated(
        spark, (0 until 4).map(i => s"$root/b4_$i"), queries, 10)
        .collect() }
    println(f"[fed-bench] bm25 probe: merged=$single%6.2f s  " +
      f"federated2=$fed2%6.2f s  federated4=$fed4%6.2f s  " +
      f"premium/index=${(fed4 - single) / 3}%5.2f s")

    // ---- dense estate (shared quantizer, builds untimed) ----
    val cents = graft.operators.Similarity.trainIvfCentroids(
      emb, "vec_id", "embedding", nlist = 16)
    graft.operators.Similarity.ivfInit(spark, cents, s"$root/ivf_merged")
    graft.operators.Similarity.ivfAppend(
      s"$root/ivf_merged", emb, "vec_id", "embedding")
    (0 until 4).foreach { i =>
      graft.operators.Similarity.ivfInit(spark, cents, s"$root/ivf4_$i")
      graft.operators.Similarity.ivfAppend(
        s"$root/ivf4_$i", emb.filter(col("vec_id") % 4 === i),
        "vec_id", "embedding")
    }
    val probeQ = emb.filter(col("vec_id") < 5)
    val ivfSingle = minOf3 {
      graft.operators.Similarity.ivfTopKIndexed(
        s"$root/ivf_merged", probeQ, "vec_id", "embedding", 10, 4).collect() }
    val ivfFed4 = minOf3 {
      graft.operators.Similarity.ivfTopKFederated(
        (0 until 4).map(i => s"$root/ivf4_$i"), probeQ,
        "vec_id", "embedding", 10, 4).collect() }
    println(f"[fed-bench] ivf probe:  merged=$ivfSingle%6.2f s  " +
      f"federated4=$ivfFed4%6.2f s  premium/index=${(ivfFed4 - ivfSingle) / 3}%5.2f s")

    // ---- StableRead premium: what optimistic validation costs a
    // federated probe (two driver-side metadata fingerprints + the
    // marker existence checks per read, zero data reads) — the price
    // of "probe during maintenance" being legal at all. On a quiesced
    // estate the retry loop never fires, so this IS the steady-state
    // serving overhead.
    val fedPlain = minOf3 {
      graft.operators.Retrieval.bm25TopKFederated(
        spark, Seq(s"$root/b2_base", s"$root/b2_delta"), queries, 10)
        .collect() }
    val fedStable = minOf3 {
      graft.operators.StableRead.stable(
        spark, Seq(s"$root/b2_base", s"$root/b2_delta")) {
        graft.operators.Retrieval.bm25TopKFederated(
          spark, Seq(s"$root/b2_base", s"$root/b2_delta"), queries, 10)
      }.count() }
    println(f"[fed-bench] stable-read premium: plain=$fedPlain%6.2f s  " +
      f"stable=$fedStable%6.2f s  validation=${fedStable - fedPlain}%5.2f s")

    // ---- snapshot-PINNED probes: cost FLAT under continuous churn ----
    // The round-17 claim: a pinned probe resolves ONE committed
    // generation (manifest -> snapshot, O(roots) small reads) and reads
    // exactly its files — so a writer churning maintenance back-to-back
    // neither starves it (the optimistic validate-retry failure mode)
    // nor changes its cost. Quiesced vs under a compact-in-a-loop
    // writer on the same roots.
    def pinnedProbe(): Unit = {
      val df = graft.operators.StableRead.pinned(
        spark, Seq(s"$root/b2_base", s"$root/b2_delta")) {
        graft.operators.Retrieval.bm25TopKFederated(
          spark, Seq(s"$root/b2_base", s"$root/b2_delta"), queries, 10)
      }
      df.count()
      graft.operators.StableRead.release(df)
    }
    val pinnedQuiet = minOf3(pinnedProbe())
    val stopChurn = new java.util.concurrent.atomic.AtomicBoolean(false)
    val churner = new Thread(() => {
      while (!stopChurn.get()) {
        graft.operators.Retrieval.bm25Compact(spark, s"$root/b2_base")
        graft.operators.Retrieval.bm25Compact(spark, s"$root/b2_delta")
      }
    })
    churner.setDaemon(true)
    churner.start()
    val pinnedChurn = minOf3(pinnedProbe())
    stopChurn.set(true)
    churner.join(60000)
    // retention hygiene after the churn burst (the expire_snapshots role)
    Seq(s"$root/b2_base", s"$root/b2_delta").foreach(p =>
      graft.operators.StableRead.expireRetired(spark, p))
    println(f"[fed-bench] pinned probe: quiesced=$pinnedQuiet%6.2f s  " +
      f"under-churn=$pinnedChurn%6.2f s  " +
      f"churn-premium=${pinnedChurn - pinnedQuiet}%5.2f s (zero retries)")

    // ---- manifest validation scaling: O(roots), not O(files) ----
    // The round-16 commit-manifest protocol prices a probe's validation
    // at ONE small-file read per root. The claim that matters at a
    // 100 TB estate (millions of part files): that cost is INDEPENDENT
    // of the estate's file count. Construction: age a twin of b2_base
    // into a many-files estate via repeated small appends (an aged,
    // uncompacted index — the realistic worst case), then time the
    // manifest token read against the LEGACY recursive-listing
    // fingerprint (rounds <= 15's per-probe cost) on both estates.
    val freshIdx = s"$root/b2_base"
    val agedIdx = s"$root/aged"
    graft.operators.Retrieval.buildBm25Index(
      docs.filter(col("doc_id") % 3 =!= 0), "doc_id", "text", agedIdx)
    val extra = docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id"), col("text")).limit(128).collect()
    extra.grouped(8).foreach { g =>
      graft.operators.Retrieval.bm25Append(
        agedIdx,
        g.toSeq.map(r => (r.getLong(0), r.getString(1))).toDF("doc_id", "text"),
        "doc_id", "text")
    }
    def countFiles(p: String): Long = {
      val b = java.nio.file.Paths.get(p)
      val st = java.nio.file.Files.walk(b)
      try st.toArray.map(_.asInstanceOf[java.nio.file.Path])
        .count(q => java.nio.file.Files.isRegularFile(q)).toLong
      finally st.close()
    }
    def minOf5(body: => Unit): Double = (1 to 5).map(_ => timed(body)).min
    val (nFresh, nAged) = (countFiles(freshIdx), countFiles(agedIdx))
    val vFresh = minOf5 {
      graft.operators.StableRead.validationToken(spark, freshIdx); () }
    val vAged = minOf5 {
      graft.operators.StableRead.validationToken(spark, agedIdx); () }
    val sFresh = minOf5 {
      graft.operators.StableRead.signature(spark, Seq(freshIdx)); () }
    val sAged = minOf5 {
      graft.operators.StableRead.signature(spark, Seq(agedIdx)); () }
    println(f"[fed-bench] manifest-validate: files $nFresh -> $nAged " +
      f"(${nAged.toDouble / nFresh}%.1fx)  manifest token " +
      f"${vFresh * 1000}%6.2f -> ${vAged * 1000}%6.2f ms (flat)  " +
      f"legacy listing ${sFresh * 1000}%6.2f -> ${sAged * 1000}%6.2f ms " +
      "(O(files))")

    // ---- incremental snapshot COMMIT cost: O(changed), not O(files) --
    // A bracket that touched nothing reuses every previous table entry
    // verbatim — the commit lists no table files at all, so commit cost
    // stays flat as the estate ages (the Iceberg incremental-manifest
    // economics, round 17). Measured as a no-op bracket (marker up,
    // snapshot + manifest commit, marker down) on the fresh vs aged
    // estates from the validate row above.
    def noopCommit(p: String): Unit =
      graft.operators.StableRead.withMaintenanceMarker(spark, p) { () }
    val cFresh = minOf5(noopCommit(freshIdx))
    val cAged = minOf5(noopCommit(agedIdx))
    println(f"[fed-bench] no-op commit (snapshot+manifest): " +
      f"fresh ${cFresh * 1000}%6.2f ms -> aged ${cAged * 1000}%6.2f ms " +
      "(flat: untouched tables reuse their previous snapshot entries)")

    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    spark.stop()
  }
}
