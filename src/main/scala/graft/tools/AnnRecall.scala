package graft.tools

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Measures LSH and IVF ANN recall against brute-force cosine top-k on the
  * real embeddings table — the evidence behind the recall bounds pinned by
  * the q40/q41 gate queries.
  *
  * Run: sbt "runMain graft.tools.AnnRecall /root/testdata/sf0.01"
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.Tables.localSession("graft-annrecall", 8)
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.Tables.load(spark, dir, "embeddings").persist()
    emb.count()
    val nCorpus = emb.count()
    val qs = emb.filter(col("vec_id") < 30).persist()
    val brute = Similarity.bruteForceTopK(
      emb, "vec_id", "embedding", qs, "vec_id", "embedding", k = 10)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(name: String, approx: Array[(Long, Long)]): Unit = {
      val hits = approx.count(brute.contains)
      println(f"[recall] $name%-8s ${hits.toDouble / brute.size}%.3f ($hits/${brute.size})")
    }
    recall("lsh", Similarity.lshTopK(
      emb, "vec_id", "embedding", qs, "vec_id", "embedding",
      dim = 64, k = 10)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))))
    recall("ivf", Similarity.ivfTopK(
      emb, "vec_id", "embedding", qs, "vec_id", "embedding",
      k = 10, nlist = 16, nprobe = 4)
      .select(col("qid"), col("id")).collect().map(r => (r.getLong(0), r.getLong(1))))

    // LSH sweep: recall vs corpus fraction touched, the tuning table
    // for picking (tables, bits, radius) on a given similarity regime
    for {
      tables <- Seq(4, 8, 16)
      bits <- Seq(8, 10, 12)
      radius <- Seq(0, 1)
    } {
      val t0 = System.nanoTime()
      val out = Similarity.lshTopK(
        emb, "vec_id", "embedding", qs, "vec_id", "embedding",
        dim = 64, k = 10, tables = tables, bitsPerTable = bits,
        probeRadius = radius)
      val got = out.select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val wall = (System.nanoTime() - t0) / 1e9
      // expected scan fraction: tables * probes / 2^bits (capped at 1)
      val probes = 1 + (if (radius >= 1) bits else 0)
      val frac = math.min(1.0, tables.toDouble * probes / (1L << bits))
      val hits = got.count(brute.contains)
      println(f"[sweep] lsh L=$tables%2d r=$bits%2d probe=$radius " +
        f"recall=${hits.toDouble / brute.size}%.3f est_scan=$frac%.3f " +
        f"wall=$wall%5.2f s")
    }

    // Quantized persisted-index sweep (the q159 production layout):
    // recall vs nprobe x rerankFactor, with the stage-1 bytes-read cost
    // reported against the float indexed probe at the same nprobe. The
    // int8 stage only SELECTS candidates (reported sims are exact float
    // cosines), so its only quality lever is how many survivors the
    // rerank sees — rerankFactor buys back the int8 selection loss.
    // Bytes are logical uncompressed per candidate row: float stage-1
    // reads (id, vec) = 8 + 8*dim; quantized stage-1 reads (id, qvec,
    // qn2) = 8 + dim + 8, ~1/8th at dim=64 — the probed-cell candidate
    // count is measured, the per-row widths are schema facts.
    locally {
      val dim = emb.selectExpr("size(embedding)").first().getInt(0)
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-annrecall-ivfq").toString
      Similarity.buildIvfQIndex(
        emb, "vec_id", "embedding", nlist = 16, idxDir)
      val cents = spark.read.parquet(s"$idxDir/centroids")
        .orderBy(col("cell")).collect().map(_.getSeq[Double](1)).toSeq
      val assigned = emb.select(
          col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .withColumn("cell", element_at(
          graft.functions.VecExprs.nearestCentroids(col("vec"), cents, 1), 1))
        .persist()
      for {
        nprobe <- Seq(2, 4, 8)
        rerank <- Seq(1, 2, 4, 8)
      } {
        val candRows = qs.select(
            col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qvec"))
          .select(col("qid"), explode(
            graft.functions.VecExprs.nearestCentroids(
              col("qvec"), cents, nprobe)).as("cell"))
          .join(assigned, "cell").count()
        val t0 = System.nanoTime()
        val got = Similarity.ivfQTopKIndexed(
            idxDir, qs, "vec_id", "embedding",
            k = 10, nprobe = nprobe, rerankFactor = rerank)
          .select(col("qid"), col("id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val wall = (System.nanoTime() - t0) / 1e9
        val hits = got.count(brute.contains)
        val s1KB = candRows * (8L + dim + 8L) / 1024
        val floatKB = candRows * (8L + 8L * dim) / 1024
        println(f"[sweep] ivfq nprobe=$nprobe rerank=$rerank " +
          f"recall=${hits.toDouble / brute.size}%.3f " +
          f"stage1=${s1KB}%6d KiB (float probe ${floatKB}%6d KiB) " +
          f"wall=$wall%5.2f s")
      }
      assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }

    // PRODUCT-QUANTIZED persisted-index sweep (round 19, the q207
    // layout): same recall-vs-bytes table with stage-1 candidate rows
    // at (id, pqcode) = 8 + m bytes — at m=8 over dim 64, ~8x under
    // the int8 row and ~64x under the float row. The rerank stage is
    // identical machinery; the comparison of interest vs ivfq is
    // recall AT EQUAL rerank budget and the bytes ratio AT EQUAL
    // recall.
    locally {
      val dim = emb.selectExpr("size(embedding)").first().getInt(0)
      val m = 8
      val idxDir = java.nio.file.Files
        .createTempDirectory("graft-annrecall-ivfpq").toString
      Similarity.buildIvfPqIndex(
        emb, "vec_id", "embedding", nlist = 16, m = m, idxDir, ksub = 64)
      val cents = spark.read.parquet(s"$idxDir/centroids")
        .orderBy(col("cell")).collect().map(_.getSeq[Double](1)).toSeq
      val assigned = emb.select(
          col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .withColumn("cell", element_at(
          graft.functions.VecExprs.nearestCentroids(col("vec"), cents, 1), 1))
        .persist()
      for {
        nprobe <- Seq(2, 4, 8)
        rerank <- Seq(1, 2, 4, 8)
      } {
        val candRows = qs.select(
            col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qvec"))
          .select(col("qid"), explode(
            graft.functions.VecExprs.nearestCentroids(
              col("qvec"), cents, nprobe)).as("cell"))
          .join(assigned, "cell").count()
        val t0 = System.nanoTime()
        val got = Similarity.ivfPqTopKIndexed(
            idxDir, qs, "vec_id", "embedding",
            k = 10, nprobe = nprobe, rerankFactor = rerank)
          .select(col("qid"), col("id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val wall = (System.nanoTime() - t0) / 1e9
        val hits = got.count(brute.contains)
        val s1KB = candRows * (8L + m) / 1024
        val int8KB = candRows * (8L + dim + 8L) / 1024
        val floatKB = candRows * (8L + 8L * dim) / 1024
        println(f"[sweep] ivfpq nprobe=$nprobe rerank=$rerank " +
          f"recall=${hits.toDouble / brute.size}%.3f " +
          f"stage1=${s1KB}%6d KiB (int8 ${int8KB}%6d, float ${floatKB}%6d) " +
          f"wall=$wall%5.2f s")
      }
      assigned.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    }

    // IVF sweep: recall vs probed-cell cost — nprobe/nlist is the
    // designed corpus fraction; cand_frac is the MEASURED one (actual
    // probed-cell population / (queries x corpus)), which diverges when
    // cells are imbalanced
    for {
      nlist <- Seq(16, 64)
      nprobe <- Seq(1, 2, 4, 8)
      if nprobe < nlist
    } {
      val centroids = Similarity.trainIvfCentroids(
        emb, "vec_id", "embedding", nlist)
      val cents = centroids.map(_.toSeq).toSeq
      val assigned = emb.select(
          col("vec_id").as("id"),
          col("embedding").cast("array<double>").as("vec"))
        .withColumn("cell", element_at(
          graft.functions.VecExprs.nearestCentroids(col("vec"), cents, 1), 1))
      val probed = qs.select(
          col("vec_id").as("qid"),
          col("embedding").cast("array<double>").as("qvec"))
        .select(col("qid"), explode(
          graft.functions.VecExprs.nearestCentroids(
            col("qvec"), cents, nprobe)).as("cell"))
        .join(assigned, "cell").count()
      val candFrac = probed.toDouble / (qs.count() * nCorpus)
      val t0 = System.nanoTime()
      val got = Similarity.ivfTopK(
          emb, "vec_id", "embedding", qs, "vec_id", "embedding",
          k = 10, nlist = nlist, nprobe = nprobe)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val wall = (System.nanoTime() - t0) / 1e9
      val hits = got.count(brute.contains)
      println(f"[sweep] ivf nlist=$nlist%2d nprobe=$nprobe " +
        f"recall=${hits.toDouble / brute.size}%.3f " +
        f"designed=${nprobe.toDouble / nlist}%.3f cand_frac=$candFrac%.3f " +
        f"wall=$wall%5.2f s")
    }

    // Drift-then-requantize arm (the ivfRequantize evidence): the index
    // trains on the ORIGINAL distribution, then an equal-sized batch
    // from 8 shifted clusters appends onto those stale centroids — the
    // ivfAppend scaladoc's decay. Measured shape (sf0.01): the drifted
    // mass piles into a few giant cells, so probes "recall" 1.000 only
    // by scanning 62% of the corpus against a designed 25% — the COST
    // MODEL is what drift destroys (equivalently, at equal cost the
    // recall collapses). ivfRequantize retrains on the merged corpus
    // and restores the designed cost-recall point: cand_frac back near
    // designed, recall back at the undrifted sweep's level.
    locally {
      val drifted = emb.select(
        (col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"),
          x => x + lit(6.0) * ((col("vec_id") % 8) + lit(1.0)))
          .as("embedding"))
      val union = emb.select(col("vec_id"), col("embedding"))
        .unionByName(drifted).persist()
      val nAll = union.count()
      val qd = drifted.filter(col("vec_id") < 1000030).persist()
      val bruteD = Similarity.bruteForceTopK(
          union, "vec_id", "embedding", qd, "vec_id", "embedding", k = 10)
        .select(col("qid"), col("id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val idx = java.nio.file.Files
        .createTempDirectory("graft-annrecall-drift").toString
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", nlist = 16, idx)
      Similarity.ivfAppend(idx, drifted, "vec_id", "embedding")
      def arm(tag: String): Unit = {
        val (cellIds, cents) = Similarity.loadCentroidTable(spark, idx)
        val sizes = spark.read.parquet(s"$idx/corpus")
          .groupBy(col("cell")).agg(count(lit(1)).as("sz"))
        val probedRows = qd.select(
            col("vec_id").as("qid"),
            col("embedding").cast("array<double>").as("qvec"))
          .select(col("qid"), explode(transform(
            graft.functions.VecExprs.nearestCentroids(col("qvec"), cents, 4),
            p => Similarity.posToCell(p, cellIds))).as("cell"))
          .join(sizes, "cell")
          .agg(coalesce(sum(col("sz")), lit(0L))).collect()(0).getLong(0)
        val candFrac = probedRows.toDouble / (qd.count() * nAll)
        val got = Similarity.ivfTopKIndexed(
            idx, qd, "vec_id", "embedding", k = 10, nprobe = 4)
          .select(col("qid"), col("id")).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
        val hits = got.count(bruteD.contains)
        println(f"[drift] $tag%-12s recall=${hits.toDouble / bruteD.size}%.3f " +
          f"designed=${4.0 / 16}%.3f cand_frac=$candFrac%.3f")
      }
      arm("stale-cells")
      Similarity.ivfRequantize(spark, idx, nlist = 16)
      arm("requantized")
      union.unpersist(); qd.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idx))
    }
    spark.stop()
  }
}
