package graft

import graft.operators.{Fsck, Retrieval, Similarity, StableRead}
import org.apache.spark.sql.functions._

/** The IVF whole-corpus rewrites ([[Similarity.ivfRequantize]],
  * [[Similarity.ivfSplitCells]]) run in the maintenance bracket, and the
  * batch appends ([[Similarity.ivfAppend]], [[Retrieval.bm25Append]])
  * under the ingest's writer locks: while a foreign writer holds the
  * corpus (BM25: postings) lock they WAIT, never interleave. A live
  * ingest landing its `b<id>_` parts between a rewrite's corpus read and
  * its rename would otherwise be dropped by the swap, and so would an
  * append's parts. The IVF holder lands a real batch while it holds the
  * lock; afterwards every row of every batch is served and the index
  * audits clean.
  */
class IvfRewriteLockSpec extends SparkSpec {
  import spark.implicits._

  private def cluster(n: Int, base: Long, shift: Double, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (base + i, Seq.fill(4)(rnd.nextGaussian() * 0.3 + shift)))
  }

  /** Run `op` on this thread while another thread holds `table`'s
    * writer lock at `dir`, runs `holderWork` under it and releases:
    * `op` must finish after the release — it waited, never interleaved.
    */
  private def waitsForLock(dir: String, table: String)(holderWork: => Unit)(
      op: => Unit): Unit = {
    val acquired = new java.util.concurrent.CountDownLatch(1)
    val holderDone = new java.util.concurrent.atomic.AtomicLong(0L)
    val holderErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val holder = new Thread(() =>
      try StableRead.withTableLocks(spark, dir, Seq(table)) {
        acquired.countDown()
        // the op must be blocked on the lock by now; nothing it
        // exposes can signal that, so this one wait stays a sleep
        Thread.sleep(1500L)
        holderWork
        holderDone.set(System.nanoTime())
      } catch { case t: Throwable => holderErr.set(t) })
    holder.start()
    assert(acquired.await(30L, java.util.concurrent.TimeUnit.SECONDS))
    op
    val opDone = System.nanoTime()
    holder.join(60000L)
    assert(holderErr.get() == null, s"lock holder failed: ${holderErr.get()}")
    assert(holderDone.get() > 0L && opDone > holderDone.get(),
      "the op finished before the lock holder released — it " +
        "interleaved with a live writer")
  }

  /** An IVF index with batch 0 ingested; `op` runs while a foreign
    * corpus-lock holder lands batch 1, and may add the `added` rows. */
  private def waitsForCorpusLock(tag: String, strictAssignment: Boolean,
      added: Seq[(Long, Seq[Double])] = Nil)(op: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val b0 = cluster(30, 0L, 0.0, 1) ++ cluster(30, 100L, 8.0, 2)
    Similarity.ivfInit(spark, Similarity.trainIvfCentroids(
      b0.toDF("id", "vec"), "id", "vec", 2), dir)
    Similarity.ivfIngestBatch(dir, b0.toDF("id", "vec"), "id", "vec", 0L)
    val b1 = cluster(20, 200L, 8.0, 3)
    waitsForLock(dir, "corpus") {
      Similarity.ivfIngestBatch(dir, b1.toDF("id", "vec"), "id", "vec", 1L)
    }(op(dir))
    val ids = spark.read.parquet(s"$dir/corpus").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (b0 ++ b1 ++ added).map(_._1).sorted,
      "rows lost or duplicated")
    assert(Fsck.ivfFsck(spark, dir, strictAssignment).count() === 0L)
  }

  test("ivfRequantize waits for a foreign corpus-lock holder") {
    waitsForCorpusLock("lock-requant", strictAssignment = true) { dir =>
      Similarity.ivfRequantize(spark, dir, nlist = 3)
    }
  }

  test("ivfSplitCells waits for a foreign corpus-lock holder") {
    waitsForCorpusLock("lock-split", strictAssignment = false) { dir =>
      assert(Similarity.ivfSplitCells(spark, dir, maxCellRows = 25L).nonEmpty)
    }
  }

  test("ivfAppend waits for a foreign corpus-lock holder") {
    val b2 = cluster(15, 300L, 0.0, 4)
    waitsForCorpusLock("lock-append", strictAssignment = true, added = b2) {
      dir => Similarity.ivfAppend(dir, b2.toDF("id", "vec"), "id", "vec")
    }
  }

  test("bm25Append waits for a foreign postings-lock holder") {
    val dir = java.nio.file.Files.createTempDirectory("lock-bm25").toString
    Retrieval.bm25Init(spark, dir, buckets = 8)
    Retrieval.bm25IngestBatch(dir,
      Seq((1L, "alpha beta"), (2L, "gamma")).toDF("doc_id", "text"),
      "doc_id", "text", 0L)
    waitsForLock(dir, "postings")(()) {
      Retrieval.bm25Append(dir,
        Seq((3L, "delta alpha")).toDF("doc_id", "text"), "doc_id", "text")
    }
    val ids = spark.read.parquet(s"$dir/doclen").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === Seq(1L, 2L, 3L))
    assert(Fsck.bm25Fsck(spark, dir).count() === 0L)
  }
}
