package graft

import graft.operators.{Retrieval, Similarity, Tombstones}
import org.apache.spark.sql.functions._

/** Soft-delete overlays: a tombstoned probe must be BIT-FOR-BIT the
  * probe of a physically rebuilt survivors-only index (exact global-
  * statistics adjustment — N, avgdl, per-term df), across the single,
  * federated, and quantized probe forms; the physical delete clears
  * exactly the ids it applied; fsck audits the overlay.
  */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry cherry durian"),
    (4L, ""),
    (5L, "apple durian banana"),
    (6L, "zebra cherry apple"))

  private def res(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("bm25: tombstoned probe == survivors-only rebuild; delete clears exactly its keys") {
    val parent = java.nio.file.Files.createTempDirectory("tomb-bm25").toString
    val docs = corpus.toDF("doc_id", "text")
    val q = Seq((1L, "apple cherry"), (2L, "banana durian zebra"))
      .toDF("query_id", "query_text")
    val idx = s"$parent/idx"
    Retrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 7)
    // doom docs 2 and 3: cherry's df, N, avgdl, and doc-4's zero-dl
    // handling all shift — every adjusted statistic is load-bearing
    assert(Tombstones.add(spark, idx,
      Seq(2L, 3L).toDF("doc_id"), "doc_id") === 2L)
    val rebuilt = s"$parent/rebuilt"
    Retrieval.buildBm25Index(
      docs.filter(!$"doc_id".isin(2L, 3L)), "doc_id", "text", rebuilt, buckets = 7)
    val soft = res(Retrieval.bm25TopKIndexed(idx, q, 10))
    assert(soft.nonEmpty && soft === res(Retrieval.bm25TopKIndexed(rebuilt, q, 10)))
    // add is cumulative and idempotent
    assert(Tombstones.add(spark, idx, Seq(2L).toDF("doc_id"), "doc_id") === 2L)
    assert(Tombstones.add(spark, idx, Seq(4L).toDF("doc_id"), "doc_id") === 3L)
    // physical delete of a SUBSET clears exactly those ids
    Retrieval.bm25Delete(spark, idx, Seq(2L, 3L).toDF("doc_id"), "doc_id")
    val left = Tombstones.read(spark, idx).get
      .collect().map(_.getLong(0)).toSeq
    assert(left === Seq(4L))
    // probe now: physically minus {2,3}, softly minus {4}
    val rebuilt2 = s"$parent/rebuilt2"
    Retrieval.buildBm25Index(
      docs.filter(!$"doc_id".isin(2L, 3L, 4L)), "doc_id", "text",
      rebuilt2, buckets = 7)
    assert(res(Retrieval.bm25TopKIndexed(idx, q, 10)) ===
      res(Retrieval.bm25TopKIndexed(rebuilt2, q, 10)))
    // applying the rest empties the overlay and removes its dir
    Retrieval.bm25Delete(spark, idx, Seq(4L).toDF("doc_id"), "doc_id")
    assert(Tombstones.read(spark, idx).isEmpty)
  }

  test("bm25 federated probe honors per-shard overlays") {
    val parent = java.nio.file.Files.createTempDirectory("tomb-fed").toString
    val docs = corpus.toDF("doc_id", "text")
    val q = Seq((1L, "apple cherry"), (2L, "banana durian zebra"))
      .toDF("query_id", "query_text")
    val shA = s"$parent/shA"; val shB = s"$parent/shB"
    Retrieval.buildBm25Index(
      docs.filter($"doc_id" <= 3), "doc_id", "text", shA, buckets = 7)
    Retrieval.buildBm25Index(
      docs.filter($"doc_id" > 3), "doc_id", "text", shB, buckets = 3)
    Tombstones.add(spark, shA, Seq(2L).toDF("doc_id"), "doc_id")
    Tombstones.add(spark, shB, Seq(6L).toDF("doc_id"), "doc_id")
    val rebuilt = s"$parent/rebuilt"
    Retrieval.buildBm25Index(
      docs.filter(!$"doc_id".isin(2L, 6L)), "doc_id", "text", rebuilt, buckets = 7)
    val fed = res(Retrieval.bm25TopKFederated(spark, Seq(shA, shB), q, 10))
    assert(fed.nonEmpty && fed === res(Retrieval.bm25TopKIndexed(rebuilt, q, 10)))
    // overlays travel with the physical merge too — a merge that
    // dropped them would resurrect the tombstoned docs
    val shC = s"$parent/shC"
    Retrieval.buildBm25Index(
      docs.filter($"doc_id" > 3), "doc_id", "text", shC, buckets = 7)
    Tombstones.add(spark, shC, Seq(6L).toDF("doc_id"), "doc_id")
    val merged = s"$parent/merged"
    Retrieval.bm25Merge(spark, shA, shC, merged)
    assert(Tombstones.read(spark, merged).get
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 6L))
    assert(res(Retrieval.bm25TopKIndexed(merged, q, 10)) === fed)
  }

  test("ivf: tombstoned probes (float, quantized-federated) == physical-delete probes") {
    val rng = new scala.util.Random(5)
    val all = (0 until 48)
      .map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian()))).toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("tomb-ivf").toString
    val idx = s"$parent/f"
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 4, idx)
    val doomed = Seq(3L, 7L, 11L).toDF("id")
    Tombstones.add(spark, idx, doomed, "id")
    val qdf = all.filter($"id" % 11 === 0).select(($"id" + 900L).as("id"), $"vec")
    val soft = res(Similarity.ivfTopKIndexed(idx, qdf, "id", "vec", k = 4, nprobe = 2))
    assert(soft.nonEmpty && !Similarity
      .ivfTopKIndexed(idx, qdf, "id", "vec", k = 48, nprobe = 4)
      .collect().map(_.getLong(1)).exists(Set(3L, 7L, 11L)))
    // quantized federated form honors the overlay too
    val cents = Similarity.trainIvfCentroids(all, "id", "vec", nlist = 4)
    val qa = s"$parent/qa"
    Similarity.ivfInit(spark, cents, qa)
    Similarity.ivfAppend(qa, all, "id", "vec", quantized = true)
    Tombstones.add(spark, qa, doomed, "id")
    assert(!Similarity
      .ivfQTopKFederated(Seq(qa), qdf, "id", "vec", k = 48, nprobe = 4)
      .collect().map(_.getLong(1)).exists(Set(3L, 7L, 11L)))
    // physical delete: identical probe, overlay gone
    Similarity.ivfDelete(spark, idx, doomed, "id")
    assert(Tombstones.read(spark, idx).isEmpty)
    assert(res(Similarity.ivfTopKIndexed(idx, qdf, "id", "vec", k = 4, nprobe = 2))
      === soft)
  }

  test("a crashed overlay swap never loses tombstones; mutations converge it") {
    val parent = java.nio.file.Files.createTempDirectory("tomb-crash").toString
    val docs = corpus.toDF("doc_id", "text")
    val q = Seq((1L, "apple cherry")).toDF("query_id", "query_text")
    val idx = s"$parent/idx"
    Retrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 7)
    Tombstones.add(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    val excluded = res(Retrieval.bm25TopKIndexed(idx, q, 10))
    // crash window: the swap's first rename completed, the second never
    // ran — the overlay exists ONLY in the backup
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(idx), spark.sessionState.newHadoopConf())
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$idx/tombstones"),
      new org.apache.hadoop.fs.Path(s"$idx/tombstones_swap_bak")))
    // read-only fallback: probes still exclude doc 2 (NO resurrection)
    assert(Tombstones.read(spark, idx).get
      .collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(res(Retrieval.bm25TopKIndexed(idx, q, 10)) === excluded)
    // the next mutating op converges the crash, then applies
    assert(Tombstones.add(spark, idx, Seq(3L).toDF("doc_id"), "doc_id") === 2L)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones_swap_bak")))
    assert(Tombstones.read(spark, idx).get
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L))
    // bak-beside-cur window (crash after the second rename, before the
    // backup delete): the stale bak drops, the live list wins
    Seq(7L).toDF("id").coalesce(1).write.parquet(s"$idx/tombstones_swap_bak")
    Tombstones.add(spark, idx, Seq(5L).toDF("doc_id"), "doc_id")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$idx/tombstones_swap_bak")))
    assert(Tombstones.read(spark, idx).get
      .collect().map(_.getLong(0)).sorted.toSeq === Seq(2L, 3L, 5L))
  }

  test("federated ivf honors a stray tombstone recorded in a sibling shard") {
    val rng = new scala.util.Random(21)
    val all = (0 until 40)
      .map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian()))).toDF("id", "vec")
    val parent = java.nio.file.Files.createTempDirectory("tomb-stray").toString
    val cents = Similarity.trainIvfCentroids(all, "id", "vec", nlist = 3)
    val shards = (0 until 2).map { i =>
      val p = s"$parent/sh$i"
      Similarity.ivfInit(spark, cents, p)
      Similarity.ivfAppend(p, all.filter($"id" % 2 === i), "id", "vec")
      p
    }
    // id 1 lives in shard 1; the takedown landed in shard 0's overlay
    Tombstones.add(spark, shards(0), Seq(1L).toDF("id"), "id")
    val qdf = all.filter($"id" % 13 === 0).select(($"id" + 900L).as("id"), $"vec")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.collect().map(_.getLong(1)).toSet
    val fed = Similarity.ivfTopKFederated(
      shards, qdf, "id", "vec", k = 40, nprobe = 3)
    assert(!ids(fed).contains(1L), "stray tombstone ignored by federated probe")
    // and the merged index agrees (overlays carry through the merge)
    val merged = s"$parent/merged"
    Similarity.ivfMerge(spark, shards, merged)
    assert(!ids(Similarity.ivfTopKIndexed(
      merged, qdf, "id", "vec", k = 40, nprobe = 3)).contains(1L))
  }

  test("vacuum applies the whole overlay and returns probes to the fast path") {
    val parent = java.nio.file.Files.createTempDirectory("tomb-vac").toString
    val docs = corpus.toDF("doc_id", "text")
    val q = Seq((1L, "apple cherry")).toDF("query_id", "query_text")
    val idx = s"$parent/idx"
    Retrieval.buildBm25Index(docs, "doc_id", "text", idx, buckets = 7)
    assert(Retrieval.bm25Vacuum(spark, idx) === 0L) // no overlay: no-op
    Tombstones.add(spark, idx, Seq(2L, 3L).toDF("doc_id"), "doc_id")
    val soft = res(Retrieval.bm25TopKIndexed(idx, q, 10))
    assert(Retrieval.bm25Vacuum(spark, idx) === 2L)
    assert(Tombstones.read(spark, idx).isEmpty)
    assert(res(Retrieval.bm25TopKIndexed(idx, q, 10)) === soft)
    val rng = new scala.util.Random(9)
    val all = (0 until 30)
      .map(i => (i.toLong, Seq.fill(8)(rng.nextGaussian()))).toDF("id", "vec")
    val ivf = s"$parent/ivf"
    Similarity.buildIvfIndex(all, "id", "vec", nlist = 3, ivf)
    assert(Similarity.ivfVacuum(spark, ivf) === 0L)
    Tombstones.add(spark, ivf, Seq(5L).toDF("id"), "id")
    assert(Similarity.ivfVacuum(spark, ivf) === 1L)
    assert(Tombstones.read(spark, ivf).isEmpty)
    assert(spark.read.parquet(s"$ivf/corpus").count() === 29L)
  }

  test("fsck audits the overlay: stray and duplicated tombstones flagged") {
    val parent = java.nio.file.Files.createTempDirectory("tomb-fsck").toString
    val idx = s"$parent/idx"
    Retrieval.buildBm25Index(
      corpus.toDF("doc_id", "text"), "doc_id", "text", idx, buckets = 7)
    Tombstones.add(spark, idx, Seq(2L).toDF("doc_id"), "doc_id")
    assert(graft.operators.Fsck.bm25Fsck(spark, idx).collect().isEmpty)
    // a stray id (no such doc) and a planted duplicate file
    Tombstones.add(spark, idx, Seq(999L).toDF("doc_id"), "doc_id")
    Seq(2L).toDF("id").coalesce(1).write.mode("append")
      .parquet(s"$idx/tombstones")
    val kinds = graft.operators.Fsck.bm25Fsck(spark, idx)
      .collect().map(_.getString(0)).toSet
    assert(kinds === Set("bm25_dup_tombstone", "bm25_tombstone_for_unknown_doc"))
  }
}
