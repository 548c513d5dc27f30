package graft

import graft.functions.PqExprs
import graft.operators.{Fsck, Similarity}
import org.apache.spark.sql.functions._

/** Product-quantized IVF (round 19): the codec's exactness at the
  * expression level, the estate's build/append/probe behavior on
  * planted twins, the fsck teeth on a corrupted code, and the stage-1
  * vec-free scan (the byte-budget claim). The q207 gate runs the shared
  * two-stage soundness body against the driver's oracle.
  */
class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16
  private val m = 4
  private val dsub = dim / m

  private def vec(seed: Int): Seq[Double] =
    (0 until dim).map(i =>
      StrictMath.cos(0.31 * seed + 0.17 * i) +
        0.05 * StrictMath.sin(1.3 * seed * (i + 1)))

  // planted twins: ids 2k and 2k+1 share a vector (cosine exactly 1.0)
  private def twinCorpus(n: Int) =
    (0 until n).flatMap(k =>
      Seq((2L * k, vec(k)), (2L * k + 1, vec(k)))).toDF("id", "v")

  test("ADC scoring is exactly the lookup-table sum over the encoded subspaces") {
    val corpus = twinCorpus(40)
    val books = Similarity.trainPqCodebooks(
      corpus, "id", "v", m, ksub = 16, sampleN = 80)
    val booksSeq = books.map(_.map(_.toSeq).toSeq).toSeq
    val q = vec(7)
    // the probe's two tables, built exactly as ivfPqTopKFederated does
    val ksub = 16
    val ipLut = (0 until m).flatMap(s => (0 until ksub).map { c =>
      (0 until dsub).map(i => q(s * dsub + i) * books(s)(c)(i)).sum
    })
    val n2Lut = (0 until m).flatMap(s => (0 until ksub).map { c =>
      books(s)(c).map(x => x * x).sum
    })
    val rows = corpus
      .withColumn("code", PqExprs.pqEncode(col("v"), booksSeq))
      .withColumn("ip", PqExprs.pqAdcScore(col("code"), typedLit(ipLut), ksub))
      .withColumn("rn2", PqExprs.pqAdcScore(col("code"), typedLit(n2Lut), ksub))
      .select(col("id"), col("v"), col("code"), col("ip"), col("rn2"))
      .collect()
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val code = r.getAs[Array[Byte]](2)
      assert(code.length === m, "code must be m bytes")
      // independent reconstruction: the code must name each subvector's
      // NEAREST codeword, and the ADC values must equal dot(q, recon)
      // and ||recon||^2 exactly (same double arithmetic, no tolerance)
      var ip = 0.0; var n2 = 0.0
      (0 until m).foreach { s =>
        val c = code(s) & 0xff
        val sub = v.slice(s * dsub, (s + 1) * dsub)
        val d2all = (0 until 16).map(k =>
          sub.zip(books(s)(k)).map { case (a, b) => (a - b) * (a - b) }.sum)
        assert(d2all(c) === d2all.min, s"code $c not nearest for sub $s")
        ip += (0 until dsub).map(i => q(s * dsub + i) * books(s)(c)(i)).sum
        n2 += books(s)(c).map(x => x * x).sum
      }
      assert(r.getDouble(3) === ip && r.getDouble(4) === n2,
        s"ADC lookup diverged from reconstruction at id ${r.getLong(0)}")
    }
    // length-mismatch codes score NULL, never garbage
    val bad = corpus.limit(1)
      .select(PqExprs.pqAdcScore(
        PqExprs.pqEncode(col("v"), booksSeq.take(2)), typedLit(ipLut), ksub))
      .collect()(0)
    assert(bad.isNullAt(0), "mismatched code length must yield NULL")
  }

  test("build -> append -> probe: twins recalled at sim 1.0; fsck teeth on a corrupt code") {
    val all = twinCorpus(60).localCheckpoint(true)
    val path = s"${java.nio.file.Files.createTempDirectory("pq-spec")}/idx"
    Similarity.buildIvfPqIndex(
      all.filter(col("id") % 4 =!= 3), "id", "v", nlist = 4, m = m, path,
      ksub = 16, sampleN = 128)
    Similarity.ivfAppend(
      path, all.filter(col("id") % 4 === 3), "id", "v")
    assert(Fsck.ivfFsck(spark, path).count() === 0L)
    // every even id's twin (odd id, identical vector) must surface at
    // rank 1 with exact sim 1.0 — the rerank stage reports exact cosines
    val queries = all.filter(col("id") % 2 === 0)
      .select((col("id") + 1000000L).as("qid"), col("v"))
    val hits = Similarity.ivfPqTopKIndexed(
      path, queries, "qid", "v", k = 2, nprobe = 2)
    val base = col("qid") - 1000000L
    val wrong = hits.filter(round(col("sim"), 9) =!= 1.0 ||
      (col("id") =!= base && col("id") =!= base + 1))
    assert(wrong.count() === 0L,
      s"twin recall broken: ${wrong.collect().mkString("; ")}")
    assert(hits.count() === 2L * queries.count(),
      "a twin pair went unrecalled")
    // stage 1 must never read `vec`: exactly one corpus scan carries
    // pqcode without vec (the PQ byte-budget claim), and the rerank
    // scan carries vec
    val plan = hits.queryExecution.executedPlan.toString
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(plan).toSeq
      .filter(_.contains("pqcode"))
    assert(reads.nonEmpty && reads.forall(!_.contains("vec")),
      s"stage-1 scan reads vec:\n${reads.mkString("\n")}")
    // fsck teeth: corrupt one stored code (re-encode a cell's rows with
    // swapped codebooks) -> ivf_pqcode_mismatch fires by name
    val (mm, kk, books) = Similarity.loadPqCodebooks(spark, path)
    assert(mm === m && kk === 16)
    val corrupted = spark.read.parquet(s"$path/corpus")
      .withColumn("pqcode",
        when(col("id") === 0L,
          // wrong input AND shuffled codebooks -> a genuinely wrong code
          PqExprs.pqEncode(transform(col("vec"), x => x * 2.0),
            books.map(_.map(_.toSeq).toSeq).toSeq.reverse))
          .otherwise(col("pqcode")))
    val hconf = spark.sessionState.newHadoopConf()
    val tmp = s"$path/corpus_corrupt_tmp"
    corrupted.write.mode("overwrite").partitionBy("cell").parquet(tmp)
    graft.sinks.Sinks.swapByRename(
      new org.apache.hadoop.fs.Path(path)
        .getFileSystem(hconf),
      new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(s"$path/corpus"))
    val kinds = Fsck.ivfFsck(spark, path)
      .collect().map(_.getString(0)).toSet
    assert(kinds.contains("ivf_pqcode_mismatch"),
      s"corrupt code not caught: $kinds")
  }

  test("PQ shard-and-merge under one quantizer == single build; drifted codebooks refuse") {
    val all = twinCorpus(50).localCheckpoint(true)
    val parent = java.nio.file.Files.createTempDirectory("pq-merge").toString
    // ONE trained pair of quantizers, N shards from it (the bootstrap)
    val cents = Similarity.trainIvfCentroids(all, "id", "v", nlist = 4, 128)
    val books = Similarity.trainPqCodebooks(
      all, "id", "v", m, ksub = 16, sampleN = 128)
    (0 until 2).foreach { i =>
      Similarity.ivfPqInit(spark, cents, books, s"$parent/sh$i")
      Similarity.ivfAppend(
        s"$parent/sh$i", all.filter(col("id") % 2 === i), "id", "v")
    }
    Similarity.ivfMerge(
      spark, Seq(s"$parent/sh0", s"$parent/sh1"), s"$parent/merged")
    // the merged probe equals the probe of ONE index built by
    // init+append over the whole corpus (same quantizers, so cell and
    // code assignments are identical row-for-row)
    Similarity.ivfPqInit(spark, cents, books, s"$parent/full")
    Similarity.ivfAppend(s"$parent/full", all, "id", "v")
    val queries = all.filter(col("id") % 10 === 0)
      .select((col("id") + 1000000L).as("qid"), col("v"))
      .localCheckpoint(true)
    def probe(p: String): Seq[String] =
      Similarity.ivfPqTopKIndexed(p, queries, "qid", "v", k = 3, nprobe = 2)
        .withColumn("sim", round(col("sim"), 9))
        .collect().map(_.toString).sorted.toSeq
    assert(probe(s"$parent/merged") === probe(s"$parent/full"),
      "merged PQ probe diverged from the single-build probe")
    assert(Fsck.ivfFsck(spark, s"$parent/merged").count() === 0L)
    // drifted codebooks: a shard trained on its own slice must refuse
    val drift = s"$parent/drift"
    Similarity.buildIvfPqIndex(
      all.filter(col("id") < 20), "id", "v", nlist = 4, m = m, drift,
      ksub = 8, sampleN = 128)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfMerge(
        spark, Seq(s"$parent/sh0", drift), s"$parent/bad")
    }
    assert(e.getMessage.contains("codebooks differ") ||
      e.getMessage.contains("centroid tables differ"),
      s"wrong refusal: ${e.getMessage}")
  }
}
