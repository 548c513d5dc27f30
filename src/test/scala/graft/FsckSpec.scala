package graft

import graft.operators.{Dedup, DedupRegistry, Fsck, NearDupRegistry, Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** The artifact audits must (a) pass clean on healthy states — including
  * the post-split IVF state under the documented non-strict mode — and
  * (b) CATCH every corruption class they name when it is planted on
  * purpose: a green fsck that cannot fail protects nothing.
  */
class FsckSpec extends SparkSpec {
  import spark.implicits._

  private def kinds(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.getString(0)).toSet

  /** Write rows as one parquet part dropped into `dstDir` (the planted-
    * corruption helper: dynamic-partition dirs read the partition value
    * from the DIRECTORY, so planting into the wrong dir IS the
    * misplacement).
    */
  private def plant(df: org.apache.spark.sql.DataFrame, dstDir: String): Unit = {
    val stage = java.nio.file.Files.createTempDirectory("fsck-plant").toString
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    new java.io.File(dstDir).mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dstDir, s"junk_${part.getName}").toPath)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(stage))
  }

  test("bm25 fsck: clean index passes; every planted corruption class is caught") {
    val dir = java.nio.file.Files.createTempDirectory("fsck-bm25").toString
    val docs = Seq(
      (1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "cherry cherry durian"), (4L, "")).toDF("doc_id", "text")
    Retrieval.buildBm25Index(docs, "doc_id", "text", dir, buckets = 7)
    Retrieval.bm25Append(dir, Seq((5L, "apple zebra")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(Fsck.bm25Fsck(spark, dir).collect().isEmpty)
    // orphan posting (unregistered doc) with a wrong df ripple, landed
    // in the term's CORRECT bucket so only the named checks fire
    val b = spark.range(1)
      .select(pmod(xxhash64(lit("apple")), lit(7L))).collect()(0).getLong(0)
    plant(Seq((99L, "apple", 2L)).toDF("id", "term", "tf"),
      s"$dir/postings/bucket=$b")
    // a misbucketed term row (df duplicate in the WRONG bucket)
    plant(Seq(("apple", 1L)).toDF("term", "df"),
      s"$dir/terms/bucket=${(b + 1) % 7}")
    val got = kinds(Fsck.bm25Fsck(spark, dir))
    assert(got.contains("bm25_posting_for_unregistered_doc"))
    assert(got.contains("bm25_df_mismatch")) // df no longer matches postings
    assert(got.contains("bm25_misbucketed_term"))
    // and a doclen lie: doc 5's dl stops matching its postings
    plant(Seq((5L, 99L)).toDF("id", "dl"), s"$dir/doclen")
    val got2 = kinds(Fsck.bm25Fsck(spark, dir))
    assert(got2.contains("bm25_dup_doclen_id") &&
      got2.contains("bm25_doclen_tf_mismatch") &&
      got2.contains("bm25_stats_ndocs") && got2.contains("bm25_stats_tokens"))
  }

  test("ivf fsck: clean float + quantized pass; split needs non-strict; corruption caught") {
    val rng = new scala.util.Random(11)
    val all = (0 until 60)
      .map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian()))).toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("fsck-ivf").toString
    val f = s"$parent/f"; val q = s"$parent/q"
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 4, f)
    Similarity.ivfAppend(f,
      Seq((100L, Seq.fill(8)(0.5))).toDF("id", "vec"), "id", "vec")
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 4, q, quantized = true)
    assert(Fsck.ivfFsck(spark, f).collect().isEmpty)
    assert(Fsck.ivfFsck(spark, q).collect().isEmpty)
    // post-split: strict assignment is documented NOT to hold, the
    // non-strict audit must stay clean
    Similarity.ivfSplitCells(spark, q, maxCellRows = 10)
    assert(Fsck.ivfFsck(spark, q, strictAssignment = false).collect().isEmpty)
    // plant: a duplicated id in an alien cell on the float index
    plant(Seq((100L, Seq.fill(8)(0.5))).toDF("id", "vec"), s"$f/corpus/cell=77")
    val gotF = kinds(Fsck.ivfFsck(spark, f))
    assert(gotF.contains("ivf_dup_id") && gotF.contains("ivf_alien_cell"))
    // plant: a quantization lie on the quantized index (qvec/qn2 not
    // derived from vec), placed in a real cell
    val cell = spark.read.parquet(s"$q/corpus")
      .select(col("cell")).limit(1).collect()(0).getInt(0)
    plant(Seq((999L, Seq.fill(8)(0.25), Seq.fill(8)(1), 5L))
        .toDF("id", "vec", "qvec", "qn2"),
      s"$q/corpus/cell=$cell")
    assert(kinds(Fsck.ivfFsck(spark, q, strictAssignment = false))
      .contains("ivf_quantization_mismatch"))
  }

  test("registry fsck: clean passes; digest/bucket/dup/stats corruption caught") {
    val parent = java.nio.file.Files.createTempDirectory("fsck-reg").toString
    val dir = s"$parent/reg"
    DedupRegistry.init(spark, dir, buckets = 8)
    DedupRegistry.ingestBatch(dir,
      Seq((1L, "alpha"), (2L, "beta"), (3L, "alpha")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    assert(Fsck.registryFsck(spark, dir).collect().isEmpty)
    // a row whose digest is NOT md5(text), planted in the bucket its
    // (bogus) digest hashes to — only digest_mismatch + stats fire
    val bogus = "00000000000000000000000000000000"
    val bb = spark.range(1)
      .select(pmod(xxhash64(lit(bogus)), lit(8L))).collect()(0).getLong(0)
    plant(Seq((9L, "gamma", bogus)).toDF("id", "text", "digest"),
      s"$dir/corpus/bucket=$bb")
    val got = kinds(Fsck.registryFsck(spark, dir))
    assert(got.contains("reg_digest_mismatch") && got.contains("reg_stats_ndocs"))
    assert(!got.contains("reg_misbucketed_row"))
    // a duplicated digest in the WRONG bucket
    val realDigest = spark.range(1)
      .select(md5(lit("alpha"))).collect()(0).getString(0)
    val wrong = (spark.range(1)
      .select(pmod(xxhash64(lit(realDigest)), lit(8L)))
      .collect()(0).getLong(0) + 1) % 8
    plant(Seq((10L, "alpha", realDigest)).toDF("id", "text", "digest"),
      s"$dir/corpus/bucket=$wrong")
    val got2 = kinds(Fsck.registryFsck(spark, dir))
    assert(got2.contains("reg_dup_digest") && got2.contains("reg_misbucketed_row"))
  }

  test("near-dup registry fsck: clean passes; hs/band/semantic corruption caught") {
    val parent = java.nio.file.Files.createTempDirectory("fsck-ndreg").toString
    val dir = s"$parent/reg"
    NearDupRegistry.init(spark, dir, buckets = 4)
    NearDupRegistry.ingestBatch(dir,
      Seq((1L, "alpha beta gamma delta epsilon"),
        (2L, "omega psi chi phi upsilon")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    assert(Fsck.nearDupRegistryFsck(spark, dir).collect().isEmpty)
    // a registered row whose hs does not derive from its text, with NO
    // band keys (silent recall loss: it can never be a candidate) —
    // hs_mismatch + missing_band_key + stats fire
    val bb = spark.range(1)
      .select(pmod(xxhash64(lit(9L)), lit(4L))).collect()(0).getLong(0)
    plant(Seq((9L, "zeta eta theta iota kappa", Seq(1L, 2L, 3L)))
        .toDF("id", "text", "hs"),
      s"$dir/corpus/bucket=$bb")
    val got = kinds(Fsck.nearDupRegistryFsck(spark, dir))
    assert(got.contains("ndreg_hs_mismatch"))
    assert(got.contains("ndreg_missing_band_key"))
    assert(got.contains("ndreg_stats_ndocs"))
    // the semantic invariant: plant a full near-dup of doc 1 (correct
    // hs AND band keys) — two registered docs now verify >= threshold
    val txt = "alpha beta gamma delta epsilon"
    val prepped = Seq((7L, txt)).toDF("id", "text")
      .withColumn("sh", Dedup.shingles(col("text"), 3))
      .withColumn("hs", graft.functions.HashExprs.hashedSortedSet(col("sh")))
    val bb7 = spark.range(1)
      .select(pmod(xxhash64(lit(7L)), lit(4L))).collect()(0).getLong(0)
    plant(prepped.select(col("id"), col("text"), col("hs")),
      s"$dir/corpus/bucket=$bb7")
    val keys = Dedup.bandedKeys(
        prepped.select(col("id"), col("sh")), 64, 16)
      .withColumnRenamed("bucket", "bkey")
      .withColumn("pk", pmod(col("bkey"), lit(4L)))
      .transform(graft.CacheScope.persisted)
    keys.select(col("pk")).distinct().collect().map(_.getLong(0)).foreach { pk =>
      plant(keys.filter(col("pk") === pk).select(col("band"), col("bkey"), col("id")),
        s"$dir/bands/pk=$pk")
    }
    assert(kinds(Fsck.nearDupRegistryFsck(spark, dir))
      .contains("ndreg_registered_near_dup_pair"))
  }

  test("composed fsck: clean pair passes; every cross-artifact drift class caught") {
    val parent = java.nio.file.Files.createTempDirectory("fsck-comp").toString
    val reg = s"$parent/reg"; val idx = s"$parent/idx"
    DedupRegistry.init(spark, reg, buckets = 4)
    Retrieval.bm25Init(spark, idx, buckets = 7)
    val sink = DedupRegistry.dedupIndexStreamSink(reg, idx, "doc_id", "text")
    sink(Seq((1L, "apple banana apple"), (2L, "banana cherry"),
      (3L, "apple banana apple")).toDF("doc_id", "text"), 0L) // 3 dups vs 1
    sink(Seq((4L, "durian fig"), (5L, "banana cherry")).toDF("doc_id", "text"), 1L)
    assert(Fsck.composedFsck(spark, reg, idx).collect().isEmpty)

    // drift class 1: a registry doc the index missed (single-sided
    // index takedown) — membership + derivation + stats fire
    Retrieval.bm25Delete(spark, idx, Seq(4L).toDF("doc_id"), "doc_id")
    val got1 = kinds(Fsck.composedFsck(spark, reg, idx))
    assert(got1.contains("composed_registry_doc_missing_from_index"), s"got $got1")
    assert(got1.contains("composed_index_stats_mismatch"), s"got $got1")
    assert(!got1.contains("composed_index_doc_not_in_registry"))

    // drift class 2: an index doc not in the registry (single-sided
    // registry takedown — the doc keeps serving but lost its dedup
    // witness; a re-crawl would duplicate it in the index)
    DedupRegistry.delete(spark, reg, Seq(1L).toDF("doc_id"), "doc_id")
    val got2 = kinds(Fsck.composedFsck(spark, reg, idx))
    assert(got2.contains("composed_index_doc_not_in_registry"), s"got $got2")

    // drift class 3: a postings tf lie on a doc BOTH sides know —
    // membership is silent, only the row-for-row derivation sees it
    val parent2 = java.nio.file.Files.createTempDirectory("fsck-comp2").toString
    val reg2 = s"$parent2/reg"; val idx2 = s"$parent2/idx"
    DedupRegistry.init(spark, reg2, buckets = 4)
    Retrieval.bm25Init(spark, idx2, buckets = 7)
    DedupRegistry.dedupIndexStreamSink(reg2, idx2, "doc_id", "text")(
      Seq((1L, "apple banana apple")).toDF("doc_id", "text"), 0L)
    assert(Fsck.composedFsck(spark, reg2, idx2).collect().isEmpty)
    val b = spark.range(1)
      .select(pmod(xxhash64(lit("zebra")), lit(7L))).collect()(0).getLong(0)
    plant(Seq((1L, "zebra", 1L)).toDF("id", "term", "tf"),
      s"$idx2/postings/bucket=$b")
    val got3 = kinds(Fsck.composedFsck(spark, reg2, idx2))
    assert(got3.contains("composed_postings_derivation_mismatch"), s"got $got3")
  }

  test("a stranded maintenance marker is an audited state in every family") {
    val parent = java.nio.file.Files.createTempDirectory("fsck-marker").toString
    def markerOf(p: String) = new org.apache.hadoop.fs.Path(
      s"$p/${graft.operators.StableRead.MarkerName}")
    def plant(p: String): Unit = markerOf(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .create(markerOf(p), true).close()
    def unplant(p: String): Unit = markerOf(p)
      .getFileSystem(spark.sessionState.newHadoopConf())
      .delete(markerOf(p), false)
    // bm25
    val bm = s"$parent/bm"
    Retrieval.buildBm25Index(
      Seq((1L, "alpha beta")).toDF("doc_id", "text"), "doc_id", "text", bm,
      buckets = 4)
    plant(bm)
    assert(kinds(Fsck.bm25Fsck(spark, bm)) ===
      Set("bm25_stranded_maintenance_marker"))
    unplant(bm)
    assert(Fsck.bm25Fsck(spark, bm).count() === 0L)
    // ivf
    val ivf = s"$parent/ivf"
    graft.operators.Similarity.buildIvfIndex(
      Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0))).toDF("id", "vec"),
      "id", "vec", nlist = 2, ivf)
    plant(ivf)
    assert(kinds(Fsck.ivfFsck(spark, ivf)) ===
      Set("ivf_stranded_maintenance_marker"))
    unplant(ivf)
    // exact registry
    val reg = s"$parent/reg"
    graft.operators.DedupRegistry.init(spark, reg, buckets = 4)
    graft.operators.DedupRegistry.ingestBatch(reg,
      Seq((1L, "alpha")).toDF("doc_id", "text"), "doc_id", "text", 0L)
    plant(reg)
    assert(kinds(Fsck.registryFsck(spark, reg)) ===
      Set("reg_stranded_maintenance_marker"))
    unplant(reg)
    // near-dup registry
    val nd = s"$parent/nd"
    graft.operators.NearDupRegistry.init(spark, nd, buckets = 4)
    graft.operators.NearDupRegistry.ingestBatch(nd,
      Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    plant(nd)
    assert(kinds(Fsck.nearDupRegistryFsck(spark, nd)) ===
      Set("ndreg_stranded_maintenance_marker"))
    unplant(nd)
    assert(Fsck.nearDupRegistryFsck(spark, nd).count() === 0L)
  }

  // every table each family's delete rewrites through Sinks.deleteRows
  Seq("bm25" -> Seq("postings"), "ivf" -> Seq("corpus"),
      "reg" -> Seq("corpus"), "ndreg" -> Seq("corpus", "bands")).foreach {
    case (family, tables) =>
      test(s"$family fsck: a standing delete intent is caught in both scopes") {
        val (dir, audit) = IncrementalFsckSpec.twoBatches(spark, family)
        val cursors = Seq(None, Some(0L))
        cursors.foreach(c => assert(audit(c).count() === 0L, s"cursor $c"))
        val fs = new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf())
        tables.foreach { t =>
          val intent = new org.apache.hadoop.fs.Path(
            s"$dir/$t", graft.sinks.Sinks.DeleteIntentName)
          fs.create(intent, false).close()
          cursors.foreach(c => assert(kinds(audit(c)) ===
            Set(s"${family}_standing_delete_intent"), s"$t, cursor $c"))
          fs.delete(intent, false)
        }
      }
  }
}
