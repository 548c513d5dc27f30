package graft

import graft.operators.{Fsck, Similarity, StableRead}
import org.apache.spark.sql.functions._

/** The IVF whole-corpus rewrites ([[Similarity.ivfRequantize]],
  * [[Similarity.ivfSplitCells]]) run in the maintenance bracket: while a
  * foreign writer holds the corpus lock they WAIT, never interleave. A
  * live ingest landing its `b<id>_` parts between a rewrite's corpus
  * read and its rename would otherwise be dropped by the swap. The
  * holder lands a real batch while it holds the lock; afterwards every
  * row of both batches is served and the index audits clean.
  */
class IvfRewriteLockSpec extends SparkSpec {
  import spark.implicits._

  private def cluster(n: Int, base: Long, shift: Double, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i =>
      (base + i, Seq.fill(4)(rnd.nextGaussian() * 0.3 + shift)))
  }

  private def waitsForCorpusLock(tag: String, strictAssignment: Boolean)(
      rewrite: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(tag).toString
    val b0 = cluster(30, 0L, 0.0, 1) ++ cluster(30, 100L, 8.0, 2)
    Similarity.ivfInit(spark, Similarity.trainIvfCentroids(
      b0.toDF("id", "vec"), "id", "vec", 2), dir)
    Similarity.ivfIngestBatch(dir, b0.toDF("id", "vec"), "id", "vec", 0L)
    val b1 = cluster(20, 200L, 8.0, 3)
    val acquired = new java.util.concurrent.CountDownLatch(1)
    val holderDone = new java.util.concurrent.atomic.AtomicLong(0L)
    val holderErr = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val holder = new Thread(() =>
      try StableRead.withTableLocks(spark, dir, Seq("corpus")) {
        acquired.countDown()
        // the rewrite must be blocked on the lock by now; nothing it
        // exposes can signal that, so this one wait stays a sleep
        Thread.sleep(1500L)
        Similarity.ivfIngestBatch(dir, b1.toDF("id", "vec"), "id", "vec", 1L)
        holderDone.set(System.nanoTime())
      } catch { case t: Throwable => holderErr.set(t) })
    holder.start()
    assert(acquired.await(30L, java.util.concurrent.TimeUnit.SECONDS))
    rewrite(dir)
    val rewriteDone = System.nanoTime()
    holder.join(60000L)
    assert(holderErr.get() == null, s"lock holder failed: ${holderErr.get()}")
    assert(holderDone.get() > 0L && rewriteDone > holderDone.get(),
      "the rewrite finished before the lock holder released — it " +
        "interleaved with a live writer")
    val ids = spark.read.parquet(s"$dir/corpus").select(col("id"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids === (b0 ++ b1).map(_._1).sorted, "rows lost or duplicated")
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
}
