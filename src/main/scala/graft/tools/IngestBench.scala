package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prices the streaming-ingest apply (SURVEY §8): ONE fixed-size batch
  * applied through [[graft.operators.Retrieval.bm25IngestBatch]] (and
  * the IVF twin, [[graft.operators.DedupRegistry.ingestBatch]], and
  * [[graft.operators.NearDupRegistry.ingestBatch]]) against a standing
  * index at 1x and Nx corpus scale. The claim under
  * test — what makes the stream sinks viable against a 100 TB standing
  * artifact: apply work is proportional to the BATCH plus a
  * vocabulary-sized df merge (bm25) / a bucket-pruned digest-column
  * membership read (registry) / a band-key-pruned candidate join plus
  * a candidate-bucket (id, hs) fetch (near-dup registry), never the
  * standing mass, so the apply wall stays near-flat as the index
  * grows. (The vocabulary itself grows sublinearly here: DeleteBench's
  * per-doc-token model caps at ~100k extra terms.) The registry
  * batches carry 50% planted duplicates (exact for the digest
  * registry, trailing-junk near-copies for the LSH registry) of
  * standing content so the membership/candidate joins do real
  * dropping work; the other 50% (reversed texts for the LSH registry —
  * disjoint shingle sets) must land.
  *
  * Run: sbt "runMain graft.tools.IngestBench [replication]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 10
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-ingestbench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" u"),
          (col("doc_id") % 100000).cast("string")).as("text"))
    val emb = graft.Tables.load(spark, baseDir, "embeddings")

    // ONE fixed batch at every scale: the base corpus's %31 slice under
    // fresh ids (ingest requires disjoint ids)
    val bmBatch = docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 5000000000L).as("doc_id"), col("text"))
      .transform(graft.CacheScope.persisted)
    val ivfBatch = emb.filter(col("vec_id") % 31 === 0)
      .select((col("vec_id") + 5000000000L).as("vec_id"), col("embedding"))
      .transform(graft.CacheScope.persisted)
    // registry batch: half verbatim standing texts (must drop), half new
    val regBatch = docs.filter(col("doc_id") % 62 === 0)
      .select((col("doc_id") + 6000000000L).as("doc_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 62 === 31)
        .select((col("doc_id") + 7000000000L).as("doc_id"),
          concat(col("text"), lit(" fresh")).as("text")))
      .transform(graft.CacheScope.persisted)
    // near-dup registry: replica r's texts get a marker token spliced at
    // EVERY word boundary — every 3-shingle of replica r contains m<r>,
    // so shingle sets are DISJOINT across replicas (a trailing suffix
    // would leave replicas near-dups of each other and batch 0 would
    // collapse the standing corpus back to 1x)
    def ndDocs(r: Int): DataFrame =
      docs.select((col("doc_id") + lit(r * 1000000000L)).as("doc_id"),
        regexp_replace(col("text"), lit(" "), lit(s" m$r ")).as("text"))
    // batch: half trailing-junk NEAR-copies of standing replica-0 texts
    // (must verify and drop), half reversed texts (disjoint shingles,
    // must land)
    val ndBatch = ndDocs(0).filter(col("doc_id") % 62 === 0)
      .select((col("doc_id") + 6000000000L).as("doc_id"),
        concat(col("text"), lit(" zz98 zz99")).as("text"))
      .unionByName(docs.filter(col("doc_id") % 62 === 31)
        .select((col("doc_id") + 7000000000L).as("doc_id"),
          reverse(col("text")).as("text")))
      .transform(graft.CacheScope.persisted)
    val batchDocs = bmBatch.count()
    ivfBatch.count(); regBatch.count(); ndBatch.count()

    def replicated(scale: Int): DataFrame =
      (0 until scale).map(r =>
        docs.select((col("doc_id") + lit(r * 1000000000L)).as("doc_id"),
          col("text")))
        .reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)

    def ndReplicated(scale: Int): DataFrame =
      (0 until scale).map(ndDocs)
        .reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)

    def run(scale: Int, warmup: Boolean = false): Unit = {
      val corpus = replicated(scale)
      val corpusDocs = corpus.count()
      val bmPath = java.nio.file.Files
        .createTempDirectory(s"graft-ingbench-bm-$scale").toString
      graft.operators.Retrieval.buildBm25Index(
        corpus, "doc_id", "text", bmPath)
      val t0 = System.nanoTime()
      graft.operators.Retrieval.bm25IngestBatch(
        bmPath, bmBatch, "doc_id", "text", 0L)
      val bmWall = (System.nanoTime() - t0) / 1e9
      val ivfPath = java.nio.file.Files
        .createTempDirectory(s"graft-ingbench-ivf-$scale").toString
      graft.operators.Similarity.buildIvfIndex(
        (0 until scale).map(r => emb.select(
            (col("vec_id") + lit(r * 1000000000L)).as("vec_id"),
            col("embedding")))
          .reduce(_.unionByName(_)),
        "vec_id", "embedding", nlist = 16, ivfPath)
      val t1 = System.nanoTime()
      graft.operators.Similarity.ivfIngestBatch(
        ivfPath, ivfBatch, "vec_id", "embedding", 0L)
      val ivfWall = (System.nanoTime() - t1) / 1e9
      val regRoot = java.nio.file.Files
        .createTempDirectory(s"graft-ingbench-reg-$scale").toString
      val regPath = s"$regRoot/reg"
      graft.operators.DedupRegistry.init(spark, regPath, buckets = 64)
      graft.operators.DedupRegistry.ingestBatch(
        regPath, corpus, "doc_id", "text", 0L)
      val t2 = System.nanoTime()
      graft.operators.DedupRegistry.ingestBatch(
        regPath, regBatch, "doc_id", "text", 1L)
      val regWall = (System.nanoTime() - t2) / 1e9
      val ndRoot = java.nio.file.Files
        .createTempDirectory(s"graft-ingbench-nd-$scale").toString
      val ndPath = s"$ndRoot/reg"
      val ndCorpus = ndReplicated(scale)
      graft.operators.NearDupRegistry.init(spark, ndPath, buckets = 64)
      graft.operators.NearDupRegistry.ingestBatch(
        ndPath, ndCorpus, "doc_id", "text", 0L)
      val ndStanding = spark.read.parquet(s"$ndPath/corpus").count()
      val t3 = System.nanoTime()
      graft.operators.NearDupRegistry.ingestBatch(
        ndPath, ndBatch, "doc_id", "text", 1L)
      val ndWall = (System.nanoTime() - t3) / 1e9
      if (!warmup)
        println(f"[ingest-bench] scale=$scale%-3d index=$corpusDocs%8d docs  " +
          f"batch=$batchDocs docs  bm25_apply=$bmWall%6.2f s  " +
          f"ivf_apply=$ivfWall%6.2f s  reg_apply=$regWall%6.2f s  " +
          f"ndreg_apply=$ndWall%6.2f s (standing=$ndStanding)")
      corpus.unpersist(); ndCorpus.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(bmPath))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ivfPath))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(regRoot))
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ndRoot))
    }
    run(1, warmup = true)
    run(1)
    run(n)

    // OPEN-VOCABULARY arm (round 19): every replica rewrites EVERY
    // token with a replica suffix, so the standing index's vocabulary
    // grows ~linearly with scale — the regime the fixed-vocabulary
    // arms above cannot expose — and the fixed batch introduces ONLY
    // new terms (suffix `_f`, the worst case for any per-batch
    // vocabulary cost). Rounds <= 18 republished the full merged terms
    // table per apply — O(global vocab), linear in this arm's scale;
    // the round-19 append-delta terms keep the apply O(batch vocab):
    // the claim under test is a FLAT bm25 apply wall across the
    // vocabulary decade, with probe latency on the delta'd index
    // within noise of the consolidated (post-compact) one.
    def openDocs(r: Int): DataFrame =
      docs.select((col("doc_id") + lit(r * 1000000000L)).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"_$r"))), " ").as("text"))
    val ovBatch = docs.filter(col("doc_id") % 31 === 0)
      .select((col("doc_id") + 5000000000L).as("doc_id"),
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit("_f"))), " ").as("text"))
      .transform(graft.CacheScope.persisted)
    ovBatch.count()
    import spark.implicits._
    // probe mixes standing (replica-0) and batch (_f) vocabulary
    val ovQueryText = ovBatch.select(col("text")).head().getString(0)
      .split(' ').take(4).mkString(" ")
    val ovQueries = Seq(
      (1L, ovQueryText),
      (2L, ovQueryText.replace("_f", "_0"))).toDF("query_id", "query_text")
    def runOpenVocab(scale: Int, warmup: Boolean = false): Unit = {
      val corpus = (0 until scale).map(openDocs).reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-ingbench-ov-$scale").toString
      graft.operators.Retrieval.buildBm25Index(
        corpus, "doc_id", "text", path)
      // consolidated rows == global vocabulary size
      val vocab = spark.read.parquet(s"$path/terms").count()
      val t0 = System.nanoTime()
      graft.operators.Retrieval.bm25IngestBatch(
        path, ovBatch, "doc_id", "text", 0L)
      val wall = (System.nanoTime() - t0) / 1e9
      def probeWall(): Double = {
        val p0 = System.nanoTime()
        graft.operators.Retrieval.bm25TopKIndexed(path, ovQueries, 10)
          .collect()
        (System.nanoTime() - p0) / 1e9
      }
      val probeDelta = probeWall()
      graft.operators.Retrieval.bm25Compact(spark, path)
      val probeCompacted = probeWall()
      if (!warmup)
        println(f"[ingest-bench] open-vocab scale=$scale%-3d " +
          f"vocab=$vocab%9d terms  bm25_apply=$wall%6.2f s  " +
          f"probe_delta=$probeDelta%5.2f s  " +
          f"probe_compacted=$probeCompacted%5.2f s")
      corpus.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
    runOpenVocab(1, warmup = true)
    runOpenVocab(1)
    runOpenVocab(n)
    spark.stop()
  }
}
