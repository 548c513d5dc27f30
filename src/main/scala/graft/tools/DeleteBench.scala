package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prices the persisted-index governance operators (SURVEY §8): a
  * takedown through [[graft.operators.Retrieval.bm25Delete]] versus the
  * full rebuild it replaces, at 1x and Nx corpus scale.
  *
  * Scaling model: replica r shifts doc ids by r*1e9 with the SAME text,
  * so the vocabulary (and therefore the term-bucket footprint of a
  * doomed doc) is scale-invariant while every bucket's postings grow
  * linearly — the regime where bucket-granular pruning either pays or
  * doesn't.
  *
  * The raw synthetic corpus cannot exhibit the pruning (its generator
  * vocabulary is ~40 words, populating ~31 buckets at ANY modulus, and
  * every doc's terms are corpus-universal), so the harness models the
  * realistic regime explicitly: every doc gains one per-doc token (so
  * the bucket population matches a real vocabulary) and the doomed doc
  * is PLANTED with its own 80-term text — the takedown-document shape,
  * whose footprint is ~80 thinly-populated buckets out of ~1000
  * instead of the stopword buckets that hold the whole corpus. The
  * delete should then rewrite a small, scale-invariant slice of the
  * postings where the rebuild pays the whole corpus — the bm25Delete
  * scaladoc's sizing rule, measured.
  *
  * Run: sbt "runMain graft.tools.DeleteBench [replication] [buckets]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object DeleteBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 10
    val buckets = if (args.length > 1) args(1).toInt else 1024
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-deletebench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    import spark.implicits._

    val plantedText = (1 to 80).map(i => s"takedown$i").mkString(" ")
    val docs = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") === 42L, lit(plantedText))
          .otherwise(concat(col("text"), lit(" u"),
            (col("doc_id") % 100000).cast("string"))).as("text"))

    def replicated(scale: Int): DataFrame =
      (0 until scale).map(r =>
        docs.select((col("doc_id") + lit(r * 1000000000L)).as("doc_id"),
          col("text")))
        .reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)

    def run(scale: Int, warmup: Boolean = false): Unit = {
      val corpus = replicated(scale)
      corpus.count() // materialize outside the timed window
      val path = java.nio.file.Files
        .createTempDirectory(s"graft-delbench-$scale").toString
      val t0 = System.nanoTime()
      graft.operators.Retrieval.buildBm25Index(
        corpus, "doc_id", "text", path, buckets = buckets)
      val buildWall = (System.nanoTime() - t0) / 1e9
      val totalBuckets = new java.io.File(s"$path/postings").listFiles()
        .count(_.getName.startsWith("bucket="))
      // one doomed base doc: its term footprint is scale-invariant
      val affectedBkts = spark.read.parquet(s"$path/postings")
        .filter(col("id") === 42L)
        .select(col("bucket").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      val affected = affectedBkts.size
      // the quantity that carries to real scale: bytes the delete must
      // rewrite (affected bucket dirs) vs the whole postings table
      def dirBytes(d: java.io.File): Long =
        if (d.isFile) d.length
        else Option(d.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)
      val bucketDirs = new java.io.File(s"$path/postings").listFiles()
        .filter(_.getName.startsWith("bucket="))
      val totalBytes = bucketDirs.map(dirBytes).sum
      val affectedBytes = bucketDirs
        .filter(d => affectedBkts.contains(
          d.getName.stripPrefix("bucket=").toLong))
        .map(dirBytes).sum
      val t1 = System.nanoTime()
      val deleted = graft.operators.Retrieval.bm25Delete(
        spark, path, Seq(42L).toDF("doc_id"), "doc_id")
      val delWall = (System.nanoTime() - t1) / 1e9
      if (!warmup)
        println(f"[delete-bench] scale=$scale%-3d buckets=$buckets  " +
          f"build=$buildWall%7.2f s  delete_1doc=$delWall%6.2f s  " +
          f"affected_buckets=$affected%4d/$totalBuckets  " +
          f"rewrite_bytes=${affectedBytes / 1024}%6d/${totalBytes / 1024} KiB " +
          f"(${100.0 * affectedBytes / totalBytes}%.1f%%)  " +
          f"deleted=$deleted  ratio=${delWall / buildWall}%.3f")
      corpus.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
    }
    run(1, warmup = true) // JIT/codegen warmup — first build is cold
    run(1)
    run(n)

    // ---- queue amortization: K requests, one-at-a-time vs one flush —
    // the economics [[graft.operators.TakedownQueue]] exists to buy.
    // K planted takedown-shaped docs (disjoint 80-term vocabularies, so
    // each request's footprint matches the single-doc arm above); arm A
    // deletes them one bm25Delete per request, arm B enqueues all K
    // (instant probe invisibility — the compliance clock stops at
    // enqueue, not at flush) and pays ONE forced flush. Same corpus,
    // two identical fresh indexes; enqueue time is charged to arm B.
    val K = 16
    val planted = (0 until K).map(k =>
      (900000000L + k, (1 to 80).map(i => s"tdq${k}x$i").mkString(" ")))
    val corpusQ = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"), concat(col("text"), lit(" u"),
        (col("doc_id") % 100000).cast("string")).as("text"))
      .unionByName(planted.toDF("doc_id", "text"))
      .transform(graft.CacheScope.persisted)
    corpusQ.count()
    def freshIdx(tag: String): String = {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft-delbench-$tag").toString
      graft.operators.Retrieval.buildBm25Index(
        corpusQ, "doc_id", "text", p, buckets = buckets)
      p
    }
    val ids = planted.map(_._1)
    val (pA, pB) = (freshIdx("onebyone"), freshIdx("batched"))
    val tA = System.nanoTime()
    ids.foreach(id => graft.operators.Retrieval.bm25Delete(
      spark, pA, Seq(id).toDF("doc_id"), "doc_id"))
    val oneWall = (System.nanoTime() - tA) / 1e9
    val tB = System.nanoTime()
    graft.operators.TakedownQueue.enqueue(
      spark, pB, ids.toDF("doc_id"), "doc_id")
    val dec = graft.operators.TakedownQueue.bm25FlushIfDue(
      spark, pB, force = true)
    val batchWall = (System.nanoTime() - tB) / 1e9
    require(dec.removed == K.toLong, s"amortization arm lost requests: $dec")
    println(f"[delete-bench] queue amortization: K=$K  " +
      f"one-per-request=$oneWall%7.2f s  enqueue+flush=$batchWall%6.2f s  " +
      f"(${oneWall / batchWall}%.1fx)  " +
      f"flush_footprint=${dec.nAffectedBuckets}/${dec.nBuckets} buckets")
    Seq(pA, pB).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
    spark.stop()
  }
}
