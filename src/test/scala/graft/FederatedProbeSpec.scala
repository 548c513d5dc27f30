package graft

import graft.operators.{Retrieval, Similarity}
import org.apache.spark.sql.functions._

/** Federated (main+delta) index serving: the N-index probes must be
  * BIT-IDENTICAL to the single/merged-index probes they claim to equal —
  * N=1 is the single probe, shards-without-merge is the merged probe —
  * because the scoring bodies are shared, global statistics are summed
  * exactly (bm25) and candidates exact-scored (ivf).
  */
class FederatedProbeSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry durian"),
    (4L, ""), // token-less: still counts toward N and avgdl
    (5L, "apple durian banana"),
    (6L, "zebra cherry apple"))

  private val queries = Seq(
    (1L, "apple cherry"), (2L, "banana durian zebra"))

  test("federated bm25 == single probe at N=1 and == merged probe over shards") {
    val parent = java.nio.file.Files.createTempDirectory("bm25-fed").toString
    val docs = corpus.toDF("doc_id", "text")
    val q = queries.toDF("query_id", "query_text")
    val single = s"$parent/single"
    Retrieval.buildBm25Index(docs, "doc_id", "text", single, buckets = 7)
    def res(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // N=1 identity: the federated form degenerates to the single probe
    val one = res(Retrieval.bm25TopKFederated(spark, Seq(single), q, 10))
    assert(one.nonEmpty && one === res(Retrieval.bm25TopKIndexed(single, q, 10)))
    // shards with DIFFERENT bucket moduli (each prunes with its own),
    // split so df("cherry"), dl, N, avgdl all need cross-shard summing
    val shA = s"$parent/shA"; val shB = s"$parent/shB"
    Retrieval.buildBm25Index(
      docs.filter($"doc_id" <= 3), "doc_id", "text", shA, buckets = 7)
    Retrieval.buildBm25Index(
      docs.filter($"doc_id" > 3), "doc_id", "text", shB, buckets = 3)
    val fed = res(Retrieval.bm25TopKFederated(spark, Seq(shA, shB), q, 10))
    assert(fed.nonEmpty && fed === one,
      "federated shards diverged from the full-corpus probe")
    // and == a probe of the physically merged shards (same-modulus pair)
    val shC = s"$parent/shC"
    Retrieval.buildBm25Index(
      docs.filter($"doc_id" > 3), "doc_id", "text", shC, buckets = 7)
    val merged = s"$parent/merged"
    Retrieval.bm25Merge(spark, shA, shC, merged)
    assert(res(Retrieval.bm25TopKIndexed(merged, q, 10)) ===
      res(Retrieval.bm25TopKFederated(spark, Seq(shA, shC), q, 10)))
    intercept[IllegalArgumentException] {
      Retrieval.bm25TopKFederated(spark, Seq.empty, q, 10)
    }
  }

  test("federated ivf == single probe at N=1 and == merged probe under a shared quantizer") {
    val rng = new scala.util.Random(42)
    val dim = 16
    val bases = Array.fill(8)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 10
    } yield (ci * 10L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("ivf-fed").toString
    val cents = Similarity.trainIvfCentroids(all, "id", "vec", nlist = 6)
    val shards = (0 until 3).map { i =>
      val p = s"$parent/sh$i"
      Similarity.ivfInit(spark, cents, p)
      Similarity.ivfAppend(p, all.filter($"id" % 3 === i), "id", "vec")
      p
    }
    val qdf = all.filter($"id" % 11 === 0).select(($"id" + 9000L).as("id"), $"vec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // N=1 identity on one shard
    val oneShard = res(Similarity.ivfTopKFederated(
      Seq(shards.head), qdf, "id", "vec", k = 3, nprobe = 2))
    assert(oneShard === res(Similarity.ivfTopKIndexed(
      shards.head, qdf, "id", "vec", k = 3, nprobe = 2)))
    // shared quantizer: federated over the 3 shards == the merged index
    val merged = s"$parent/merged"
    Similarity.ivfMerge(spark, shards, merged)
    val fed = res(Similarity.ivfTopKFederated(
      shards, qdf, "id", "vec", k = 3, nprobe = 2))
    assert(fed.nonEmpty && fed === res(Similarity.ivfTopKIndexed(
      merged, qdf, "id", "vec", k = 3, nprobe = 2)))
    // DISTINCT quantizers stay sound: every hit is an exact cosine
    // against the stored vector of a real corpus row (recomputed
    // driver-side), ranks contiguous from 1 per query
    val alt = s"$parent/alt"
    Similarity.ivfInit(spark, cents.map(_.map(_ * 0.9 + 0.1)), alt)
    Similarity.ivfAppend(alt, all.filter($"id" % 3 === 2), "id", "vec")
    val mixed = Similarity.ivfTopKFederated(
        Seq(shards(0), shards(1), alt), qdf, "id", "vec", k = 3, nprobe = 2)
      .collect()
    assert(mixed.nonEmpty)
    val vecOf = all.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val qvecOf = qdf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    mixed.foreach { r =>
      val (qid, id, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(math.abs(sim - cos(qvecOf(qid), vecOf(id))) < 1e-9,
        s"hit ($qid, $id) sim drifted from the exact cosine")
    }
    val ranks = mixed.groupBy(_.getLong(0)).values
    assert(ranks.forall(rs =>
      rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length).toSeq))
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKFederated(Seq.empty, qdf, "id", "vec", k = 3)
    }
  }

  test("federated QUANTIZED ivf == merged probe; global rerank budget, not per-index") {
    val rng = new scala.util.Random(7)
    val dim = 16
    val bases = Array.fill(6)(Array.fill(dim)(rng.nextGaussian()))
    val all = (for {
      (b, ci) <- bases.zipWithIndex
      j <- 0 until 12
    } yield (ci * 12L + j, b.map(_ + rng.nextGaussian() * 0.02).toSeq))
      .toSeq.toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("ivfq-fed").toString
    val cents = Similarity.trainIvfCentroids(all, "id", "vec", nlist = 4)
    val shards = (0 until 3).map { i =>
      val p = s"$parent/sh$i"
      Similarity.ivfInit(spark, cents, p)
      Similarity.ivfAppend(p, all.filter($"id" % 3 === i), "id", "vec",
        quantized = true)
      p
    }
    val merged = s"$parent/merged"
    Similarity.ivfMerge(spark, shards, merged)
    val qdf = all.filter($"id" % 13 === 0).select(($"id" + 9000L).as("id"), $"vec")
    def res(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // a TIGHT rerank budget (rerankFactor=1) makes any per-index
    // over-fetch visible: the federated stage-1 pool must be the global
    // k-per-query cut, exactly the merged index's
    val fed = res(Similarity.ivfQTopKFederated(
      shards, qdf, "id", "vec", k = 3, nprobe = 2, rerankFactor = 1))
    assert(fed.nonEmpty && fed === res(Similarity.ivfQTopKIndexed(
      merged, qdf, "id", "vec", k = 3, nprobe = 2, rerankFactor = 1)))
    // and the N=1 delegation is definitional (one body)
    assert(res(Similarity.ivfQTopKFederated(
      Seq(merged), qdf, "id", "vec", k = 3, nprobe = 2)) ===
      res(Similarity.ivfQTopKIndexed(merged, qdf, "id", "vec", k = 3, nprobe = 2)))
  }
}
