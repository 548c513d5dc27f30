package graft

import graft.operators.{DedupRegistry, Fsck, NearDupRegistry, Retrieval, Similarity, Tombstones}
import org.apache.spark.sql.functions._

/** Teeth and pruning for the INCREMENTAL audits
  * ([[Fsck.bm25Fsck]] / [[Fsck.composedFsck]] with a `sinceBatch` cursor):
  * a planted corruption in a bucket the new batches touched is caught;
  * the same corruption planted in an untouched bucket is NOT READ
  * (inputFiles pin on the audit's own scoped read shape) while the
  * full fsck still catches it — the two audits' division of labor.
  */
class IncrementalFsckSpec extends SparkSpec {
  import spark.implicits._

  /** Drop a junk parquet part (postings-shaped, no partition column)
    * into an existing bucket directory — the planted corruption.
    */
  private def plantPosting(
      dir: String, bucket: Long, id: Long, term: String, tf: Long): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("fsck-plant").toString
    Seq((id, term, tf)).toDF("id", "term", "tf")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val dst = new java.io.File(s"$dir/postings/bucket=$bucket/zz_junk_$bucket.parquet")
    java.nio.file.Files.copy(src.toPath, dst.toPath)
  }

  private def kinds(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select(col("kind")).collect().map(_.getString(0)).toSet

  test("bucket-scoped audit: touched-bucket corruption caught, untouched bucket never read") {
    val dir = java.nio.file.Files.createTempDirectory("fsck-incr").toString
    Retrieval.bm25Init(spark, dir, buckets = 16)
    // batch 0: a wide vocabulary spreading over many buckets
    Retrieval.bm25IngestBatch(dir,
      Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"),
        (2L, "iota kappa lambda mu nu xi omicron pi"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    // batch 1: ONE term -> touches exactly that term's bucket
    Retrieval.bm25IngestBatch(dir,
      Seq((3L, "omega omega omega")).toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    assert(Fsck.bm25Fsck(spark, dir, Some(-1L)).count() === 0L)
    assert(Fsck.bm25Fsck(spark, dir, Some(1L)).count() === 0L) // no new batches
    val buckets = 16L
    def bucketOf(t: String): Long = {
      val r = Seq(t).toDF("term")
        .select(pmod(xxhash64(col("term")), lit(buckets))).head()
      r.getLong(0)
    }
    val touched = bucketOf("omega")
    val b0Terms = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta", "iota", "kappa", "lambda", "mu",
      "nu", "xi", "omicron", "pi")
    val untouchedTerm = b0Terms.find(t => bucketOf(t) != touched).get
    val untouched = bucketOf(untouchedTerm)
    // corruption in the TOUCHED bucket: a tf=0 junk posting -> the
    // since-batch-0 audit reads that bucket and must flag it
    plantPosting(dir, touched, 999L, "omega", 0L)
    val gotTouched = kinds(Fsck.bm25Fsck(spark, dir, Some(0L)))
    assert(gotTouched.contains("bm25_nonpositive_tf"), s"got $gotTouched")
    assert(gotTouched.contains("bm25_posting_for_unregistered_doc"))
    // remove it; corrupt an UNTOUCHED bucket the same way
    new java.io.File(s"$dir/postings/bucket=$touched/zz_junk_$touched.parquet")
      .delete()
    plantPosting(dir, untouched, 998L, untouchedTerm, 0L)
    // the incremental audit does not read that bucket -> silent here...
    assert(Fsck.bm25Fsck(spark, dir, Some(0L)).count() === 0L)
    // ...and the PRUNING is structural, not luck: the audit's own read
    // shape (schema + bucket isin) carries the bucket predicate as a
    // PartitionFilter — files outside the touched set never open
    // (inputFiles can't pin this: it lists the relation pre-pruning)
    val scoped = spark.read.schema(Retrieval.postingsSchema)
      .parquet(s"$dir/postings")
      .filter(col("bucket").isin(Seq(touched): _*))
    val plan = scoped.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains(s"($touched)"),
      s"bucket predicate not pushed as a PartitionFilter:\n$plan")
    // the FULL fsck still catches the untouched-bucket corruption
    val full = kinds(Fsck.bm25Fsck(spark, dir))
    assert(full.contains("bm25_nonpositive_tf"), s"got $full")
  }

  test("incremental audit checks the new docs' registration and tf sums") {
    val dir = java.nio.file.Files.createTempDirectory("fsck-incr2").toString
    Retrieval.bm25Init(spark, dir, buckets = 8)
    Retrieval.bm25IngestBatch(dir,
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", 0L)
    Retrieval.bm25IngestBatch(dir,
      Seq((2L, "gamma delta gamma")).toDF("doc_id", "text"),
      "doc_id", "text", 1L)
    assert(Fsck.bm25Fsck(spark, dir, Some(0L)).count() === 0L)
    // corrupt batch 1's doclen: rewrite its dl to a wrong value by
    // planting a duplicate registration with a bad length
    val tmp = java.nio.file.Files.createTempDirectory("fsck-plant-dl").toString
    Seq((2L, 99L)).toDF("id", "dl").coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    // tagged as batch 1 so the incremental audit owns it
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(s"$dir/doclen/b1_zz_junk.parquet").toPath)
    val got = kinds(Fsck.bm25Fsck(spark, dir, Some(0L)))
    assert(got.contains("bm25_dup_doclen_id"), s"got $got")
    assert(got.contains("bm25_doclen_tf_mismatch"), s"got $got")
    assert(got.contains("bm25_stats_ndocs"), s"got $got")
  }

  test("ivf incremental: touched-cell corruption caught, untouched cell skipped") {
    val dir = java.nio.file.Files.createTempDirectory("fsck-ivf-incr").toString
    val rnd = new scala.util.Random(3)
    def cluster(n: Int, base: Long, shift: Double) =
      (0 until n).map(i =>
        (base + i, Seq.fill(4)(rnd.nextGaussian() * 0.1 + shift)))
    // two far clusters -> two centroids; batch 0 fills BOTH cells,
    // batch 1 lands only in the +8 cluster's cell
    val b0 = (cluster(20, 0L, 0.0) ++ cluster(20, 100L, 8.0)).toDF("id", "vec")
    graft.operators.Similarity.buildIvfIndex(b0, "id", "vec", nlist = 2, dir)
    // convert the built index into the ingest lifecycle: batch 1 via
    // the recoverable apply (tags + ingestlog)
    graft.operators.Similarity.ivfIngestBatch(
      dir, cluster(10, 200L, 8.0).toDF("id", "vec"), "id", "vec", 1L)
    assert(Fsck.ivfFsck(spark, dir, sinceBatch = Some(0L)).count() === 0L)
    assert(Fsck.ivfFsck(spark, dir, sinceBatch = Some(1L)).count() === 0L)
    val cells = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cells.length === 2)
    val touched = cells.find(c => new java.io.File(s"$dir/corpus/$c")
      .listFiles().exists(_.getName.startsWith("b1_"))).get
    val untouched = cells.find(_ != touched).get
    def plantVec(cellDir: String, id: Long): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("ivf-plant").toString
      Seq((id, Seq(0.0, 0.0, 0.0, 0.0))).toDF("id", "vec")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val src = new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      java.nio.file.Files.copy(src.toPath,
        new java.io.File(s"$dir/corpus/$cellDir/zz_junk.parquet").toPath)
    }
    // a zero vector in the +8 cluster's cell is NOT nearest to it
    plantVec(touched, 990L)
    val got = kinds(Fsck.ivfFsck(spark, dir, sinceBatch = Some(0L)))
    assert(got.contains("ivf_not_nearest_cell"), s"got $got")
    new java.io.File(s"$dir/corpus/$touched/zz_junk.parquet").delete()
    // same corruption in the untouched cell: skipped incrementally,
    // caught by the full audit — plant an id DUPLICATE of a live row
    // plus the misassignment (vec far from the 0-cluster's centroid)
    val tmp2 = java.nio.file.Files.createTempDirectory("ivf-plant2").toString
    Seq((991L, Seq(8.0, 8.0, 8.0, 8.0))).toDF("id", "vec")
      .coalesce(1).write.mode("overwrite").parquet(tmp2)
    java.nio.file.Files.copy(
      new java.io.File(tmp2).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(s"$dir/corpus/$untouched/zz_junk2.parquet").toPath)
    assert(Fsck.ivfFsck(spark, dir, sinceBatch = Some(0L)).count() === 0L)
    assert(kinds(Fsck.ivfFsck(spark, dir)).contains("ivf_not_nearest_cell"))
  }

  test("ivf incremental on a PQ index: a wrong pqcode in a touched cell is caught") {
    val dir = java.nio.file.Files.createTempDirectory("fsck-pq-incr").toString
    val rnd = new scala.util.Random(5)
    def cluster(n: Int, base: Long, shift: Double) =
      (0 until n).map(i =>
        (base + i, Seq.fill(4)(rnd.nextGaussian() * 0.1 + shift)))
    val b0 = (cluster(20, 0L, 0.0) ++ cluster(20, 100L, 8.0)).toDF("id", "vec")
    graft.operators.Similarity.ivfPqInit(spark,
      graft.operators.Similarity.trainIvfCentroids(b0, "id", "vec", 2),
      graft.operators.Similarity.trainPqCodebooks(
        b0, "id", "vec", m = 2, ksub = 4, sampleN = 128),
      dir)
    graft.operators.Similarity.ivfIngestBatch(dir, b0, "id", "vec", 0L)
    graft.operators.Similarity.ivfIngestBatch(
      dir, cluster(10, 200L, 8.0).toDF("id", "vec"), "id", "vec", 1L)
    assert(Fsck.ivfFsck(spark, dir, sinceBatch = Some(0L)).count() === 0L)
    val touched = new java.io.File(s"$dir/corpus").listFiles()
      .filter(_.getName.startsWith("cell="))
      .find(_.listFiles().exists(_.getName.startsWith("b1_"))).get
    // copy a touched-cell row under a fresh id with every code byte
    // moved to the next codeword: right cell, right vec, wrong code
    val r = spark.read.parquet(touched.getPath)
      .select(col("vec"), col("pqcode")).head()
    val wrong = r.getAs[Array[Byte]](1).map(b => ((b + 1) % 4).toByte)
    val tmp = java.nio.file.Files.createTempDirectory("pq-plant").toString
    Seq((990L, r.getSeq[Double](0), wrong)).toDF("id", "vec", "pqcode")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    java.nio.file.Files.copy(
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(touched, "zz_junk.parquet").toPath)
    val got = kinds(Fsck.ivfFsck(spark, dir, sinceBatch = Some(0L)))
    assert(got === Set("ivf_pqcode_mismatch"), s"got $got")
    assert(kinds(Fsck.ivfFsck(spark, dir)) === Set("ivf_pqcode_mismatch"))
  }

  test("registry incrementals: delta-vs-standing checks fire, cursor respected") {
    // exact registry: a b1-tagged plant duplicating a batch-0 digest is
    // a delta-vs-standing violation the incremental audit must see
    val reg = java.nio.file.Files.createTempDirectory("fsck-reg-incr").toString
    DedupRegistry.init(spark, reg, buckets = 4)
    DedupRegistry.ingestBatch(reg,
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    DedupRegistry.ingestBatch(reg,
      Seq((11L, "gamma")).toDF("doc_id", "text"), "doc_id", "text", 1L)
    assert(Fsck.registryFsck(spark, reg, Some(0L)).count() === 0L)
    val tmp = java.nio.file.Files.createTempDirectory("reg-plant").toString
    // digest of "alpha" recomputed the writers' way
    val dAlpha = Seq("alpha").toDF("t")
      .select(md5(col("t"))).head().getString(0)
    Seq((99L, "alpha", dAlpha)).toDF("id", "text", "digest")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val bucketDir = new java.io.File(s"$reg/corpus").listFiles()
      .filter(_.getName.startsWith("bucket=")).head
    java.nio.file.Files.copy(
      new java.io.File(tmp).listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath,
      new java.io.File(s"$bucketDir/b1_zz_dup.parquet").toPath)
    val got = kinds(Fsck.registryFsck(spark, reg, Some(0L)))
    assert(got.contains("reg_dup_digest"), s"got $got")
    assert(got.contains("reg_stats_ndocs"), s"got $got")
    // cursor past the planted tag: out of scope entirely (no new
    // batches -> one listing, zero scans — the idle-night contract);
    // the full audit still owns it
    assert(Fsck.registryFsck(spark, reg, Some(1L)).count() === 0L)
    assert(kinds(Fsck.registryFsck(spark, reg)).contains("reg_dup_digest"))

    // near-dup registry: a b1-tagged near-copy of a batch-0 doc that
    // the ingest would have dropped = a delta-vs-live semantic
    // violation; its fabricated band rows land tagged in their pk
    val nd = java.nio.file.Files.createTempDirectory("fsck-nd-incr").toString
    NearDupRegistry.init(spark, nd, buckets = 4)
    NearDupRegistry.ingestBatch(nd,
      Seq((1L, "one two three four five six seven"))
        .toDF("doc_id", "text"), "doc_id", "text", 0L)
    NearDupRegistry.ingestBatch(nd,
      Seq((11L, "totally different words here entirely"))
        .toDF("doc_id", "text"), "doc_id", "text", 1L)
    assert(Fsck.nearDupRegistryFsck(spark, nd, Some(0L)).count() === 0L)
    // manufacture the violating state by re-ingesting an exact copy
    // with the witness TOMBSTONED (legal), then clearing the tombstone
    // by hand (the corruption: a resurrected witness beside its copy)
    graft.operators.Tombstones.add(spark, nd, Seq(1L).toDF("id"), "id")
    NearDupRegistry.ingestBatch(nd,
      Seq((21L, "one two three four five six seven"))
        .toDF("doc_id", "text"), "doc_id", "text", 2L)
    val ov = new org.apache.hadoop.fs.Path(s"$nd/tombstones")
    ov.getFileSystem(spark.sessionState.newHadoopConf()).delete(ov, true)
    val ndGot = kinds(Fsck.nearDupRegistryFsck(spark, nd, Some(1L)))
    assert(ndGot.contains("ndreg_registered_near_dup_pair"), s"got $ndGot")
    // the pair involves batch 2's delta; a cursor past it sees nothing
    assert(Fsck.nearDupRegistryFsck(spark, nd, Some(2L)).count() === 0L)
  }

  test("composed incremental: one-sided batch surfaces; older batches out of scope") {
    val parent = java.nio.file.Files.createTempDirectory("fsck-cmp").toString
    val reg = s"$parent/reg"; val idx = s"$parent/idx"
    DedupRegistry.init(spark, reg, buckets = 4)
    Retrieval.bm25Init(spark, idx, buckets = 8)
    val sink = DedupRegistry.dedupIndexStreamSink(reg, idx, "doc_id", "text")
    sink(Seq((1L, "alpha beta")).toDF("doc_id", "text"), 0L)
    sink(Seq((2L, "gamma delta")).toDF("doc_id", "text"), 1L)
    assert(Fsck.composedFsck(spark, reg, idx, Some(-1L)).count() === 0L)
    assert(Fsck.composedFsck(spark, reg, idx, Some(1L)).count() === 0L)
    // manufacture one-sided drift in batch 1: the registry accepted a
    // doc the index never applied (plant a tagged registry corpus row)
    val tmp = java.nio.file.Files.createTempDirectory("fsck-cmp-plant").toString
    Seq((7L, "stray text", "d7", 0L)).toDF("id", "text", "digest", "__b")
      .select(col("id"), col("text"), col("digest"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val src = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val bucketDir = new java.io.File(s"$reg/corpus").listFiles()
      .filter(_.getName.startsWith("bucket=")).head
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(s"$bucketDir/b1_zz_stray.parquet").toPath)
    // the stray doc violates registration AND the derivation relations
    // (its expected postings/doclen have no index rows) — all flagged
    val got = kinds(Fsck.composedFsck(spark, reg, idx, Some(0L)))
    assert(got.contains("composed_registry_doc_missing_from_index"), s"got $got")
    // a cursor past batch 1 never reads the planted file
    assert(Fsck.composedFsck(spark, reg, idx, Some(1L)).count() === 0L)
    // the full audit sees it too
    assert(kinds(Fsck.composedFsck(spark, reg, idx))
      .contains("composed_registry_doc_missing_from_index"))
  }

  Seq("bm25", "ivf", "reg", "ndreg").foreach { family =>
    test(s"$family since-cursor audit checks the tombstone overlay") {
      val (dir, audit) = IncrementalFsckSpec.twoBatches(spark, family)
      assert(audit(Some(0L)).count() === 0L)
      // a tombstone for an unknown id, and a duplicate of a live one
      Tombstones.add(spark, dir, Seq(1L, 999L).toDF("id"), "id")
      Seq(1L).toDF("id").coalesce(1).write.mode("append")
        .parquet(s"$dir/tombstones")
      val got = kinds(audit(Some(0L)))
      assert(got === Set(s"${family}_dup_tombstone",
        s"${family}_tombstone_for_unknown_doc"), s"got $got")
    }
  }
}

object IncrementalFsckSpec {

  /** A two-batch ingest-lifecycle estate of `family` ("bm25", "ivf",
    * "reg" or "ndreg"): doc 1 in batch 0, doc 2 in batch 1. Returns its
    * path and its audit over the scope a cursor selects.
    */
  def twoBatches(spark: org.apache.spark.sql.SparkSession, family: String)
      : (String, Option[Long] => org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"fsck-$family").toString
    val docs = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "omega psi chi phi upsilon")).toDF("doc_id", "text")
    def batch(i: Long) = docs.filter(col("doc_id") === i + 1L)
    family match {
      case "bm25" =>
        Retrieval.bm25Init(spark, dir, buckets = 8)
        (0L to 1L).foreach(i =>
          Retrieval.bm25IngestBatch(dir, batch(i), "doc_id", "text", i))
        (dir, Fsck.bm25Fsck(spark, dir, _))
      case "ivf" =>
        val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vec")
        Similarity.ivfInit(spark,
          Similarity.trainIvfCentroids(vecs, "id", "vec", 2), dir)
        (0L to 1L).foreach(i => Similarity.ivfIngestBatch(
          dir, vecs.filter(col("id") === i + 1L), "id", "vec", i))
        (dir, c => Fsck.ivfFsck(spark, dir, sinceBatch = c))
      case "reg" =>
        DedupRegistry.init(spark, dir, buckets = 4)
        (0L to 1L).foreach(i =>
          DedupRegistry.ingestBatch(dir, batch(i), "doc_id", "text", i))
        (dir, Fsck.registryFsck(spark, dir, _))
      case "ndreg" =>
        NearDupRegistry.init(spark, dir, buckets = 4)
        (0L to 1L).foreach(i =>
          NearDupRegistry.ingestBatch(dir, batch(i), "doc_id", "text", i))
        (dir, Fsck.nearDupRegistryFsck(spark, dir, _))
    }
  }
}
