package graft

import org.apache.spark.sql.functions._

/** The maintenance-safety guard (Sinks.requireNoPendingIngest): every
  * mutating maintenance op refuses an artifact with an UNCOMMITTED
  * streaming-ingest batch pending recovery — a rewrite would erase the
  * `b<id>_` tags and strand the swap debris the batch's re-delivery
  * needs to converge, baking junk in and re-applying on top. Each
  * pending-debris class (tmp staging dir, swap-table _new/_bak without a
  * marker, tagged part without a marker) must refuse; committed states
  * (marker present) must pass, with a committed batch's stray backup
  * converged in passing.
  */
class MaintenanceGuardSpec extends SparkSpec {
  import spark.implicits._

  private def fsOf(dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private def touchDir(dir: String, rel: String): Unit =
    fsOf(dir).mkdirs(new org.apache.hadoop.fs.Path(s"$dir/$rel"))

  private def touchFile(dir: String, rel: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
    val fs = fsOf(dir)
    fs.mkdirs(p.getParent)
    fs.create(p, true).close()
  }

  private def rm(dir: String, rel: String): Unit =
    fsOf(dir).delete(new org.apache.hadoop.fs.Path(s"$dir/$rel"), true)

  test("bm25 maintenance refuses every pending-debris class; committed passes") {
    val dir = java.nio.file.Files.createTempDirectory("guard-bm25").toString
    graft.operators.Retrieval.bm25Init(spark, dir, buckets = 4)
    graft.operators.Retrieval.bm25IngestBatch(dir,
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
        .toDF("doc_id", "text"), "doc_id", "text", 0L)
    // committed index: compact runs clean
    graft.operators.Retrieval.bm25Compact(spark, dir)

    // class 1: staging dir of a crashed batch
    touchDir(dir, "_ingest_b7_tmp")
    val e1 = intercept[IllegalStateException] {
      graft.operators.Retrieval.bm25Compact(spark, dir) }
    assert(e1.getMessage.contains("pending recovery"))
    rm(dir, "_ingest_b7_tmp")

    // class 2: swap-table debris without a marker (the mid-swap window)
    touchDir(dir, "terms_b7_new")
    intercept[IllegalStateException] {
      graft.operators.Retrieval.bm25Delete(
        spark, dir, Seq(1L).toDF("doc_id"), "doc_id") }
    rm(dir, "terms_b7_new")
    touchDir(dir, "stats_b7_bak")
    intercept[IllegalStateException] {
      graft.operators.Retrieval.bm25Compact(spark, dir) }
    rm(dir, "stats_b7_bak")

    // class 3: a tagged part file lacking its marker
    touchFile(dir, "postings/bucket=0/b7_junk.parquet")
    intercept[IllegalStateException] {
      graft.operators.Retrieval.bm25Compact(spark, dir) }
    // the same part is fine once its batch is committed
    touchFile(dir, "ingestlog/b7")
    // ... and a committed batch's stray backup converges in passing
    touchDir(dir, "stats_b7_bak")
    rm(dir, "postings/bucket=0/b7_junk.parquet") // junk parquet can't parse
    graft.operators.Retrieval.bm25Compact(spark, dir)
    assert(!fsOf(dir).exists(
      new org.apache.hadoop.fs.Path(s"$dir/stats_b7_bak")))
  }

  // merge guards its SOURCES, in every family: a shard with a crashed,
  // unrecovered batch must refuse, or the merge copies its junk in.
  // Each input: (family, build a committed one-doc shard, merge)
  private val ivfCents = Array(Array(1.0, 0.0), Array(0.0, 1.0))
  Seq[(String, (String, Long) => Unit, (Seq[String], String) => Unit)](
    ("bm25",
      (dir, id) => {
        graft.operators.Retrieval.bm25Init(spark, dir, buckets = 4)
        graft.operators.Retrieval.bm25IngestBatch(dir,
          Seq((id, s"eta theta iota w$id")).toDF("doc_id", "text"),
          "doc_id", "text", 0L)
      },
      (paths, dest) => graft.operators.Retrieval.bm25Merge(spark, paths, dest)),
    ("DedupRegistry",
      (dir, id) => {
        graft.operators.DedupRegistry.init(spark, dir, buckets = 4)
        graft.operators.DedupRegistry.ingestBatch(dir,
          Seq((id, s"text $id")).toDF("doc_id", "text"), "doc_id", "text", 0L)
      },
      (paths, dest) =>
        graft.operators.DedupRegistry.merge(spark, paths, dest)),
    ("NearDupRegistry",
      (dir, id) => {
        graft.operators.NearDupRegistry.init(spark, dir, buckets = 4)
        graft.operators.NearDupRegistry.ingestBatch(dir,
          Seq((id, s"words $id one two three")).toDF("doc_id", "text"),
          "doc_id", "text", 0L)
      },
      (paths, dest) =>
        graft.operators.NearDupRegistry.merge(spark, paths, dest)),
    ("ivf",
      (dir, id) => {
        graft.operators.Similarity.ivfInit(spark, ivfCents, dir)
        graft.operators.Similarity.ivfIngestBatch(dir,
          Seq((id, Seq(0.9, 0.1))).toDF("id", "vec"), "id", "vec", 0L)
      },
      (paths, dest) => graft.operators.Similarity.ivfMerge(spark, paths, dest))
  ).foreach { case (family, shard, merge) =>
    test(s"merge guards its SOURCES: $family") {
      val parent = java.nio.file.Files.createTempDirectory("guard-merge-src")
        .toString
      shard(s"$parent/a", 1L)
      shard(s"$parent/b", 9L)
      touchDir(s"$parent/b", "_ingest_b3_tmp")
      val e = intercept[IllegalStateException] {
        merge(Seq(s"$parent/a", s"$parent/b"), s"$parent/m0") }
      assert(e.getMessage.contains("pending recovery"), e.getMessage)
      // the debris was the only obstacle: once recovered, the merge runs
      rm(s"$parent/b", "_ingest_b3_tmp")
      merge(Seq(s"$parent/a", s"$parent/b"), s"$parent/m1")
    }
  }

  test("ivf maintenance refuses pending ingest debris") {
    val dir = java.nio.file.Files.createTempDirectory("guard-ivf").toString
    graft.operators.Similarity.ivfInit(spark,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), dir)
    graft.operators.Similarity.ivfIngestBatch(dir,
      Seq((1L, Seq(0.9, 0.1)), (2L, Seq(0.1, 0.9))).toDF("id", "vec"),
      "id", "vec", 0L)
    graft.operators.Similarity.ivfCompact(spark, dir) // committed: clean
    touchFile(dir, "corpus/cell=0/b5_junk.parquet")
    intercept[IllegalStateException] {
      graft.operators.Similarity.ivfCompact(spark, dir) }
    intercept[IllegalStateException] {
      graft.operators.Similarity.ivfDelete(
        spark, dir, Seq(1L).toDF("id"), "id") }
    intercept[IllegalStateException] {
      graft.operators.Similarity.ivfSplitCells(spark, dir, maxCellRows = 1) }
    touchFile(dir, "ingestlog/b5")
    rm(dir, "corpus/cell=0/b5_junk.parquet")
    graft.operators.Similarity.ivfCompact(spark, dir) // committed again
  }

  test("registry maintenance refuses pending ingest debris") {
    val dir = java.nio.file.Files.createTempDirectory("guard-reg").toString
    graft.operators.DedupRegistry.init(spark, dir, buckets = 4)
    graft.operators.DedupRegistry.ingestBatch(dir,
      Seq((1L, "alpha")).toDF("doc_id", "text"), "doc_id", "text", 0L)
    touchDir(dir, "stats_b2_new")
    intercept[IllegalStateException] {
      graft.operators.DedupRegistry.compact(spark, dir) }
    intercept[IllegalStateException] {
      graft.operators.DedupRegistry.delete(
        spark, dir, Seq(1L).toDF("doc_id"), "doc_id") }
    rm(dir, "stats_b2_new")
    touchFile(dir, "corpus/bucket=0/b4_junk.parquet")
    intercept[IllegalStateException] {
      graft.operators.DedupRegistry.compact(spark, dir) }
    rm(dir, "corpus/bucket=0/b4_junk.parquet")
    touchDir(dir, "_ingest_b4_tmp")
    intercept[IllegalStateException] {
      graft.operators.DedupRegistry.compact(spark, dir) }
    rm(dir, "_ingest_b4_tmp")
    graft.operators.DedupRegistry.compact(spark, dir)

    val nd = java.nio.file.Files.createTempDirectory("guard-ndreg").toString
    graft.operators.NearDupRegistry.init(spark, nd, buckets = 4)
    graft.operators.NearDupRegistry.ingestBatch(nd,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    touchFile(nd, "bands/pk=0/b3_junk.parquet")
    intercept[IllegalStateException] {
      graft.operators.NearDupRegistry.compact(spark, nd) }
    rm(nd, "bands/pk=0/b3_junk.parquet")
    touchFile(nd, "corpus/bucket=0/b3_junk.parquet")
    intercept[IllegalStateException] {
      graft.operators.NearDupRegistry.compact(spark, nd) }
    rm(nd, "corpus/bucket=0/b3_junk.parquet")
    touchDir(nd, "_ingest_b3_tmp")
    intercept[IllegalStateException] {
      graft.operators.NearDupRegistry.compact(spark, nd) }
    rm(nd, "_ingest_b3_tmp")
    touchDir(nd, "stats_b3_bak")
    intercept[IllegalStateException] {
      graft.operators.NearDupRegistry.delete(
        spark, nd, Seq(1L).toDF("doc_id"), "doc_id") }
    rm(nd, "stats_b3_bak")
    graft.operators.NearDupRegistry.compact(spark, nd)
  }

  test("merge refuses a shard with maintenance history (n_dropped conservation)") {
    // exact-dedup family: a shard that ran a physical delete no longer
    // conserves the raw stream in its stats — merge must refuse it
    // structurally, not by scaladoc
    val parent = java.nio.file.Files.createTempDirectory("guard-merge").toString
    val reg = graft.operators.DedupRegistry
    Seq("a", "b").foreach { t =>
      reg.init(spark, s"$parent/$t", buckets = 4)
      reg.ingestBatch(s"$parent/$t",
        Seq((if (t == "a") 1L else 11L, s"text $t")).toDF("doc_id", "text"),
        "doc_id", "text", 0L)
    }
    // a KEY-MISS delete removes nothing and must NOT poison the shard
    assert(reg.delete(spark, s"$parent/a", Seq(99L).toDF("id"), "id") === 0L)
    reg.merge(spark, Seq(s"$parent/a", s"$parent/b"), s"$parent/m0")
    // a real delete stamps the history flag; merge now refuses
    assert(reg.delete(spark, s"$parent/a", Seq(1L).toDF("id"), "id") === 1L)
    val e = intercept[IllegalStateException] {
      reg.merge(spark, Seq(s"$parent/a", s"$parent/b"), s"$parent/m1")
    }
    assert(e.getMessage.contains("maintenance history"))

    // near-dup family: same contract (vacuum routes through delete)
    val nd = graft.operators.NearDupRegistry
    Seq("c", "d").foreach { t =>
      nd.init(spark, s"$parent/$t", buckets = 4)
      nd.ingestBatch(s"$parent/$t",
        Seq((if (t == "c") 1L else 11L, s"words $t one two three"))
          .toDF("doc_id", "text"),
        "doc_id", "text", 0L)
    }
    graft.operators.Tombstones.add(
      spark, s"$parent/c", Seq(1L).toDF("id"), "id")
    assert(nd.vacuum(spark, s"$parent/c") === 1L)
    val e2 = intercept[IllegalStateException] {
      nd.merge(spark, Seq(s"$parent/c", s"$parent/d"), s"$parent/m2")
    }
    assert(e2.getMessage.contains("maintenance history"))
    // the untouched shard still merges with a fresh pristine sibling
    nd.init(spark, s"$parent/e", buckets = 4)
    nd.ingestBatch(s"$parent/e",
      Seq((21L, "more words four five six")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    nd.merge(spark, Seq(s"$parent/d", s"$parent/e"), s"$parent/m3")
  }
}
