package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prices the round-12 maintenance operators (SURVEY §8): the artifact
  * fscks (bm25 + near-dup registry, the two audit-heaviest families) and
  * the registry shard-and-merges, at 1x and Nx corpus. Unlike the stream
  * applies (IngestBench: batch-sized work, FLAT walls), these are
  * deliberately CORPUS-SIZED operators — fsck is a full re-derivation
  * scan and a bootstrap merge shuffles the shard survivors once — so the
  * honest claim under test is LINEARITY: wall ∝ corpus with no
  * super-linear term (a quadratic candidate blow-up in the near-dup
  * audit's self-join, say, would surface here first). Linear full-scan
  * jobs distribute; that is the 100 TB contract for maintenance-window
  * work.
  *
  * Scaling model: IngestBench's marker-spliced replicas — replica r
  * splices `m<r>` at every word boundary, so replica shingle sets are
  * DISJOINT (no cross-replica near-dups: the registry masses grow
  * linearly) and digests differ.
  *
  * Run: sbt "runMain graft.tools.AuditBench [replication...]" — each
  * argument is one tier beyond the 1x base (e.g. `10 100` prices the
  * second decade: ~500k docs at sf0.1, the ScaleBench method).
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object AuditBench {
  def main(args: Array[String]): Unit = {
    val tiers = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(10)
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-auditbench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"), col("text"))

    def replica(r: Int): DataFrame =
      docs.select((col("doc_id") + lit(r * 1000000000L)).as("doc_id"),
        regexp_replace(col("text"), lit(" "), lit(s" m$r ")).as("text"))

    def replicated(scale: Int): DataFrame =
      (0 until scale).map(replica).reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    def run(scale: Int, warmup: Boolean = false): Unit = {
      val corpus = replicated(scale)
      val nDocs = corpus.count()
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-auditbench-$scale").toString
      // ---- fsck arms (artifacts built untimed) ----
      graft.operators.Retrieval.buildBm25Index(
        corpus, "doc_id", "text", s"$root/bm25")
      val bmFsck = timed {
        assert(graft.operators.Fsck.bm25Fsck(spark, s"$root/bm25")
          .collect().isEmpty)
      }
      // incremental-audit arm: a streamed index whose LAST batch is one
      // replica-sized slice — the nightly audit reads only that batch's
      // touched buckets + tagged files, so its cost tracks the DELTA
      // while the full fsck above tracks the corpus
      graft.operators.Retrieval.bm25Init(spark, s"$root/bm25i", buckets = 64)
      graft.operators.Retrieval.bm25IngestBatch(s"$root/bm25i",
        corpus.filter(col("doc_id") % 97 =!= 0), "doc_id", "text", 0L)
      graft.operators.Retrieval.bm25IngestBatch(s"$root/bm25i",
        corpus.filter(col("doc_id") % 97 === 0), "doc_id", "text", 1L)
      // time BOTH audits on the SAME streamed index, incremental first
      // (the two indexes differ in layout and the arms differ in JVM
      // cache state — comparing incr(bm25i) against full(bm25) mixes
      // those into the pruning signal)
      val bmFsckIncr = timed {
        assert(graft.operators.Fsck
          .bm25FsckIncremental(spark, s"$root/bm25i", 0L)
          .collect().isEmpty)
      }
      val bmFsckI = timed {
        assert(graft.operators.Fsck.bm25Fsck(spark, s"$root/bm25i")
          .collect().isEmpty)
      }
      graft.operators.NearDupRegistry.init(spark, s"$root/ndreg", buckets = 64)
      graft.operators.NearDupRegistry.ingestBatch(
        s"$root/ndreg", corpus.filter(col("doc_id") % 97 =!= 0),
        "doc_id", "text", 0L)
      graft.operators.NearDupRegistry.ingestBatch(
        s"$root/ndreg", corpus.filter(col("doc_id") % 97 === 0),
        "doc_id", "text", 1L)
      val ndFsck = timed {
        assert(graft.operators.Fsck.nearDupRegistryFsck(spark, s"$root/ndreg")
          .collect().isEmpty)
      }
      // incremental near-dup audit over the last (1/97) batch: the
      // expensive semantic check shrinks from the full candidate
      // self-join to delta-vs-live — the family where the cursor pays
      // most (the full audit is the estate's costliest)
      val ndFsckIncr = timed {
        assert(graft.operators.Fsck
          .nearDupRegistryFsckIncremental(spark, s"$root/ndreg", 0L)
          .collect().isEmpty)
      }
      // ---- registry shard-and-merge arms (shards built untimed) ----
      (0 until 3).foreach { i =>
        graft.operators.DedupRegistry.init(spark, s"$root/rsh$i", buckets = 64)
        graft.operators.DedupRegistry.ingestBatch(
          s"$root/rsh$i", corpus.filter(col("doc_id") % 3 === i),
          "doc_id", "text", 0L)
        graft.operators.NearDupRegistry.init(spark, s"$root/nsh$i", buckets = 64)
        graft.operators.NearDupRegistry.ingestBatch(
          s"$root/nsh$i", corpus.filter(col("doc_id") % 3 === i),
          "doc_id", "text", 0L)
      }
      val regMerge = timed {
        graft.operators.DedupRegistry.merge(
          spark, (0 until 3).map(i => s"$root/rsh$i"), s"$root/rmerged")
      }
      val ndMerge = timed {
        graft.operators.NearDupRegistry.merge(
          spark, (0 until 3).map(i => s"$root/nsh$i"), s"$root/nmerged")
      }
      if (!warmup)
        println(f"[audit-bench] scale=$scale%-3d corpus=$nDocs%8d docs  " +
          f"bm25_fsck=$bmFsck%6.2f s  bm25i_full=$bmFsckI%6.2f s  " +
          f"bm25_fsck_incr=$bmFsckIncr%6.2f s  " +
          f"ndreg_fsck=$ndFsck%6.2f s  ndreg_fsck_incr=$ndFsckIncr%6.2f s  " +
          f"reg_merge=$regMerge%6.2f s  ndreg_merge=$ndMerge%6.2f s")
      corpus.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    }
    run(1, warmup = true)
    run(1)
    tiers.foreach(run(_))

    // ---- retention GC arm (round 18): `_retired` bytes and
    // `_snapshots` file count must stay BOUNDED across decades of
    // continuous churn when maintenance runs with a gcKeepGenerations
    // horizon — the GcRetentionSpec claim at bench scale. Without the
    // horizon the MVCC retire-not-delete discipline grows both without
    // bound (every compact parks a full table generation); with it the
    // estate carries at most the horizon's generations at any age.
    {
      import graft.operators.{Retrieval, StableRead}
      import spark.implicits._
      def bytesUnder(p: java.io.File): Long =
        if (!p.exists()) 0L
        else if (p.isFile) p.length()
        else p.listFiles().map(bytesUnder).sum
      def filesUnder(p: java.io.File): Long =
        if (!p.exists()) 0L
        else if (p.isFile) 1L
        else p.listFiles().map(filesUnder).sum
      val gcRoot = java.nio.file.Files
        .createTempDirectory("graft-auditbench-gc").toString + "/idx"
      val churnDocs = docs.filter(col("doc_id") % 100 === 0)
        .transform(graft.CacheScope.persisted)
      Retrieval.buildBm25Index(churnDocs, "doc_id", "text", gcRoot)
      val retired = new java.io.File(s"$gcRoot/${StableRead.RetiredDirName}")
      val snaps = new java.io.File(s"$gcRoot/${StableRead.SnapshotsDirName}")
      (1 to 40).foreach { i =>
        Retrieval.bm25Append(gcRoot,
          Seq((5000000L + i, s"churn cycle c$i payload"))
            .toDF("doc_id", "text"),
          "doc_id", "text")
        Retrieval.bm25Compact(spark, gcRoot, gcKeepGenerations = Some(2))
        if (i == 10 || i == 20 || i == 40)
          println(f"[audit-bench] gc-churn cycle=$i%-3d " +
            f"retired=${bytesUnder(retired) / 1048576.0}%7.1f MiB " +
            f"(${filesUnder(retired)}%4d files)  " +
            f"snapshots=${filesUnder(snaps)}%4d files  " +
            f"gen=${StableRead.manifestGeneration(spark, gcRoot).get}%d")
      }
      churnDocs.unpersist()

      // ---- POLICY arm (round 19): the same 40-cycle churn with NO
      // manual compact/gc calls — each cycle is append +
      // StableRead.autoMaintain, and the POLICY decides when to
      // consolidate (chain threshold) and collect (keepGenerations).
      // The claim: footprint stays bounded and the chain never exceeds
      // the threshold, with the policy firing ~40/threshold times
      // instead of 40.
      val polRoot = java.nio.file.Files
        .createTempDirectory("graft-auditbench-pol").toString + "/idx"
      val polDocs = docs.filter(col("doc_id") % 100 === 0)
        .transform(graft.CacheScope.persisted)
      Retrieval.buildBm25Index(polDocs, "doc_id", "text", polRoot)
      val pRetired = new java.io.File(
        s"$polRoot/${StableRead.RetiredDirName}")
      val pSnaps = new java.io.File(
        s"$polRoot/${StableRead.SnapshotsDirName}")
      var fired = 0
      (1 to 40).foreach { i =>
        // the streaming apply grows append-delta chains (the policy's
        // trigger); the batch bm25Append commits full shards instead
        Retrieval.bm25IngestBatch(polRoot,
          Seq((6000000L + i, s"policy cycle c$i payload"))
            .toDF("doc_id", "text"),
          "doc_id", "text", i.toLong)
        if (StableRead.autoMaintain(spark, polRoot,
            () => Retrieval.bm25Compact(spark, polRoot),
            keepGenerations = 2, chainThreshold = 8).isDefined)
          fired += 1
        if (i == 10 || i == 20 || i == 40)
          println(f"[audit-bench] policy-churn cycle=$i%-3d fired=$fired%2d " +
            f"chain=${StableRead.maxShardChainLen(spark, polRoot)}%2d " +
            f"retired=${bytesUnder(pRetired) / 1048576.0}%7.1f MiB " +
            f"(${filesUnder(pRetired)}%4d files)  " +
            f"snapshots=${filesUnder(pSnaps)}%4d files  " +
            f"gen=${StableRead.manifestGeneration(spark, polRoot).get}%d")
      }
      polDocs.unpersist()
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(polRoot).getParentFile)
      org.apache.commons.io.FileUtils
        .deleteQuietly(new java.io.File(gcRoot).getParentFile)
    }
    spark.stop()
  }
}
