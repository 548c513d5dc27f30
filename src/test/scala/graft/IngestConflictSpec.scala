package graft

import graft.operators.{Similarity, StableRead}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Ingest-vs-maintenance concurrency (round 18) — the three layers that
  * make "a streaming ingest racing a compaction on the same index" a
  * safe operation:
  *
  *   1. per-table writer LOCKS serialize the data-level file moves
  *      ([[StableRead.withTableLocks]]) while leaving disjoint tables
  *      and roots concurrent;
  *   2. compaction CARRIES OVER in-flight (uncommitted-batch) tagged
  *      parts un-folded ([[graft.sinks.Sinks.compactTable]]) — folding
  *      a crashed batch's rows into untagged output would duplicate
  *      the batch on its mandated re-delivery, letting the swap retire
  *      them would lose it from the re-run's recovery sweep;
  *   3. an ingest whose estate COMMIT loses the optimistic-concurrency
  *      race un-commits its exactly-once marker before rethrowing, so
  *      the re-delivery re-applies instead of skipping whole.
  */
class IngestConflictSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int, offset: Int = 0) =
    (0 until n).map { i =>
      val k = i + offset
      (k.toLong, Seq(
        StrictMath.cos(0.37 * k), StrictMath.sin(0.37 * k), 0.1 * (k % 7)))
    }.toDF("id", "vec")

  private def freshIndex(tag: String, n: Int): String = {
    val dir =
      s"${java.nio.file.Files.createTempDirectory(s"conflict-$tag")}/ivf"
    Similarity.buildIvfIndex(vecs(n), "id", "vec", nlist = 2, dir)
    dir
  }

  private def ids(dir: String): Seq[Long] =
    spark.read.parquet(s"$dir/corpus")
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  private def fsOf(dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sessionState.newHadoopConf())

  test("compact refuses crashed-batch debris (never folds it); re-delivery converges") {
    val dir = freshIndex("refuse", 20)
    // a committed batch, then strip its marker — the exact on-disk
    // state a batch crashed AFTER landing its parts leaves behind
    Similarity.ivfIngestBatch(dir, vecs(5, 100), "id", "vec", 7L)
    val fs = fsOf(dir)
    require(fs.delete(
      new org.apache.hadoop.fs.Path(s"$dir/ingestlog/b7"), false))
    // the state a conflict compensation leaves: marker un-committed AND
    // the staging-dir breadcrumb re-created (a real crash's staging dir
    // likewise survives; the recovery sweep is gated on it)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_ingest_b7_tmp"))
    // under the table lock the pending guard is precise: this debris is
    // a genuinely crashed batch, and folding its rows into untagged
    // output would duplicate the batch on re-delivery — refuse loudly
    val e = intercept[IllegalStateException] {
      Similarity.ivfCompact(spark, dir)
    }
    assert(e.getMessage.contains("b7"), s"wrong refusal: ${e.getMessage}")
    // mandated re-delivery: recovery erases the debris, re-applies once
    Similarity.ivfIngestBatch(dir, vecs(5, 100), "id", "vec", 7L)
    assert(ids(dir) === ((0L until 20L) ++ (100L until 105L)).sorted,
      "re-delivery duplicated or lost the batch")
    Similarity.ivfCompact(spark, dir) // now clean
    assert(ids(dir) === ((0L until 20L) ++ (100L until 105L)).sorted)
    assert(graft.operators.Fsck.ivfFsck(spark, dir).count() === 0L)
  }

  test("a commit-conflicted ingest un-commits its marker; re-delivery re-applies") {
    val dir = freshIndex("cme", 20)
    // the ingest runs in a thread; while its apply's Spark jobs run,
    // the main thread commits a generation that NOTES corpus — an
    // unlocked maintenance op's footprint — so the ingest's commit
    // must lose the first-committer-wins race
    val started = new java.util.concurrent.CountDownLatch(1)
    var outcome: scala.util.Try[Unit] = null
    val t = new Thread(() => {
      outcome = scala.util.Try {
        started.countDown()
        Similarity.ivfIngestBatch(dir, vecs(4000, 500), "id", "vec", 3L)
      }
    })
    t.start()
    assert(started.await(30, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(300) // let the apply enter its Spark jobs
    // first committer wins: EITHER this note-bracket lands first and
    // the ingest aborts+compensates, OR the ingest lands first and
    // THIS bracket aborts — both are the protocol working
    val noteOutcome = scala.util.Try {
      StableRead.withMaintenanceMarker(spark, dir) {
        StableRead.noteTouched(dir, "corpus")
      }
    }
    t.join(120000)
    assert(!t.isAlive, "ingest thread wedged")
    val fs = fsOf(dir)
    val marker = new org.apache.hadoop.fs.Path(s"$dir/ingestlog/b3")
    (outcome, noteOutcome) match {
      case (scala.util.Failure(e), scala.util.Success(_))
          if e.isInstanceOf[java.util.ConcurrentModificationException] =>
        // the drilled interleaving: ingest lost, compensation ran
        assert(!fs.exists(marker),
          "conflicted ingest left its exactly-once marker standing")
      case (scala.util.Success(_), scala.util.Failure(e))
          if e.isInstanceOf[java.util.ConcurrentModificationException] =>
        // timing fallback: the ingest committed first, the note-bracket
        // lost instead — the batch stands committed
        assert(fs.exists(marker))
      case (scala.util.Success(_), scala.util.Success(_)) =>
        // both landed: the note-bracket committed before the ingest's
        // bracket OPENED (no overlap) — batch committed normally
        assert(fs.exists(marker))
      case (i, nb) => fail(s"unexpected outcomes: ingest=$i note=$nb")
    }
    // re-delivery converges regardless of which writer won
    Similarity.ivfIngestBatch(dir, vecs(4000, 500), "id", "vec", 3L)
    assert(ids(dir) === ((0L until 20L) ++ (500L until 4500L)).sorted,
      "batch not exactly-once after the conflict")
    assert(graft.operators.Fsck.ivfFsck(spark, dir).count() === 0L)
  }

  /** A family whose ingest swaps stats: how to build its base estate,
    * ingest a batch, read the stats the swap protects, build a reference
    * estate over base + batch without any conflict, and read what its
    * readers are served.
    */
  private case class StatsFamily(
      name: String,
      statCols: Seq[String],
      batchText: Int => String,
      build: (DataFrame, String) => Unit,
      ingest: (String, DataFrame, Long) => Unit,
      reference: (DataFrame, DataFrame) => String,
      served: String => Seq[String],
      fsck: String => DataFrame)

  private val bm25Family = {
    import graft.operators.Retrieval
    val probe = (p: String) => Retrieval.bm25TopKIndexed(
        p, Seq((1L, "alpha gamma epsilon")).toDF("query_id", "query_text"),
        10).collect().map(_.toString).sorted.toSeq
    StatsFamily("bm25", Seq("n_docs", "total_tokens"),
      i => s"gamma w$i delta w${i % 11} epsilon",
      (docs, dir) =>
        Retrieval.buildBm25Index(docs, "doc_id", "text", dir, buckets = 7),
      Retrieval.bm25IngestBatch(_, _, "doc_id", "text", _),
      (docs, batch) => {
        val p = java.nio.file.Files
          .createTempDirectory("conflict-bm25-rb").toString
        Retrieval.buildBm25Index(
          docs.unionByName(batch), "doc_id", "text", p, buckets = 7)
        p
      },
      probe,
      graft.operators.Fsck.bm25Fsck(spark, _))
  }

  /** A registry family: base = one committed batch; the batch repeats
    * texts (within itself and of the base) so the apply drops rows and
    * n_dropped moves.
    */
  private def registryFamily(
      name: String,
      init: String => Unit,
      ingest: (String, DataFrame, Long) => Unit,
      fsck: String => DataFrame): StatsFamily = {
    val build = (docs: DataFrame, dir: String) => {
      init(dir); ingest(dir, docs, 0L)
    }
    StatsFamily(name, Seq("n_docs", "n_dropped"),
      i => if (i % 10 == 0) s"alpha w${i % 40} beta w${i % 40 % 7}"
        else s"gamma w${i % 1500} delta w${i % 11} epsilon",
      build, ingest,
      (docs, batch) => {
        val p = s"${java.nio.file.Files.createTempDirectory(s"conflict-$name-rb")}/reg"
        build(docs, p); ingest(p, batch, 5L)
        p
      },
      dir => spark.read.parquet(s"$dir/corpus").select(col("id"))
        .collect().map(_.getLong(0).toString).sorted.toSeq,
      fsck)
  }

  private val conflictFamilies = Seq(
    bm25Family,
    registryFamily("DedupRegistry",
      graft.operators.DedupRegistry.init(spark, _, buckets = 7),
      graft.operators.DedupRegistry.ingestBatch(_, _, "doc_id", "text", _),
      graft.operators.Fsck.registryFsck(spark, _)),
    registryFamily("NearDupRegistry",
      graft.operators.NearDupRegistry.init(spark, _, buckets = 7),
      graft.operators.NearDupRegistry.ingestBatch(_, _, "doc_id", "text", _),
      graft.operators.Fsck.nearDupRegistryFsck(spark, _)))

  conflictFamilies.foreach { f =>
    test(s"${f.name} conflict compensation restores pre-batch stats; re-delivery never double-counts") {
      val dir =
        s"${java.nio.file.Files.createTempDirectory(s"conflict-${f.name}")}/${f.name}"
      val docs = (0 until 40).map(i =>
        (i.toLong, s"alpha w$i beta w${i % 7}")).toDF("doc_id", "text")
      // a sizeable batch so the apply's Spark jobs outlast the conflicting
      // note-commit below
      val batch = (1000 until 4000).map(i =>
        (i.toLong, f.batchText(i))).toDF("doc_id", "text")
        .localCheckpoint(true)
      f.build(docs, dir)
      val statsOf = () => statsOfAt(dir, f.statCols)
      val preStats = statsOf()
      val fs = fsOf(dir)
      val markerFile = new org.apache.hadoop.fs.Path(
        s"$dir/${StableRead.MarkerName}")
      var outcome: scala.util.Try[Unit] = null
      val t = new Thread(() => {
        outcome = scala.util.Try {
          f.ingest(dir, batch, 5L)
        }
      })
      t.start()
      // the estate marker appears the instant the ingest's bracket opens —
      // commit a conflicting generation (noting stats, which the ingest
      // always swaps) strictly inside its bracket window
      val deadline = System.currentTimeMillis() + 30000
      while (!fs.exists(markerFile) && t.isAlive &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
      val noteOutcome = scala.util.Try {
        StableRead.withMaintenanceMarker(spark, dir) {
          StableRead.noteTouched(dir, "stats")
        }
      }
      t.join(120000)
      assert(!t.isAlive, "ingest thread wedged")
      val batchMarker = new org.apache.hadoop.fs.Path(s"$dir/ingestlog/b5")
      (outcome, noteOutcome) match {
        case (scala.util.Failure(e), scala.util.Success(_))
            if e.isInstanceOf[java.util.ConcurrentModificationException] =>
          // the drilled interleaving: the ingest lost the race AFTER its
          // apply — the compensation must leave EXACTLY the pre-batch
          // estate: marker un-committed, stats restored verbatim (round 18
          // retired the bak pre-commit, so stats stayed post-batch here
          // and the re-delivery double-counted), staging breadcrumb up
          assert(!fs.exists(batchMarker),
            "conflicted ingest left its exactly-once marker standing")
          assert(statsOf() === preStats,
            "compensation did not restore the pre-batch stats")
          assert(fs.exists(new org.apache.hadoop.fs.Path(
            s"$dir/_ingest_b5_tmp")), "recovery breadcrumb missing")
        case (scala.util.Success(_), _) =>
          // timing fallback: the ingest committed before (or without)
          // overlap — the batch stands committed exactly once
          assert(fs.exists(batchMarker))
        case (i, nb) => fail(s"unexpected outcomes: ingest=$i note=$nb")
      }
      // mandated re-delivery: converges to exactly one application
      f.ingest(dir, batch, 5L)
      val want = {
        val p = f.reference(docs, batch)
        (statsOfAt(p, f.statCols), f.served(p))
      }
      assert(statsOf() === want._1, "stats double-counted after re-delivery")
      assert(f.served(dir) === want._2,
        "served rows diverged from the rebuild after the conflict re-delivery")
      assert(f.fsck(dir).count() === 0L)
    }
  }

  private def statsOfAt(path: String, cols: Seq[String]): Seq[Long] = {
    val r = spark.read.parquet(s"$path/stats").collect()(0)
    cols.map(r.getAs[Long])
  }

  test("streaming ingest racing compaction: locks serialize, end state exact") {
    val dir = freshIndex("race", 30)
    val batches = (0 until 3).map(b => vecs(40, 1000 + b * 40)
      .localCheckpoint(true))
    val ingester = new Thread(() => {
      batches.zipWithIndex.foreach { case (b, i) =>
        Similarity.ivfIngestBatch(dir, b, "id", "vec", i.toLong)
      }
    })
    ingester.start()
    var compacts = 0
    while (ingester.isAlive || compacts < 3) {
      Similarity.ivfCompact(spark, dir)
      compacts += 1
    }
    ingester.join(120000)
    assert(!ingester.isAlive, "ingester wedged")
    assert(ids(dir) === ((0L until 30L) ++ (1000L until 1120L)).sorted,
      "raced ingest+compact lost or duplicated rows")
    // every vector must self-probe at cosine 1.0 (the q198 invariant)
    val all = spark.read.parquet(s"$dir/corpus")
      .select((col("id") + 1000000L).as("qid"), col("vec").as("qv"))
      .localCheckpoint(true)
    val hits = Similarity.ivfTopKIndexed(
      dir, all, "qid", "qv", k = 1, nprobe = 2)
    val bad = hits.filter(
      col("id") =!= col("qid") - 1000000L || round(col("sim"), 6) =!= 1.0)
    assert(bad.count() === 0L, "self-probe violated after the race")
    assert(graft.operators.Fsck.ivfFsck(spark, dir).count() === 0L)
    // no stranded locks, markers, or claims
    val fs = fsOf(dir)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$dir/${StableRead.MarkerName}")))
    val locks = new org.apache.hadoop.fs.Path(s"$dir/_locks")
    assert(!fs.exists(locks) || fs.listStatus(locks).isEmpty,
      "stranded table locks after the race")
  }
}
