package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prices the N-way index merge's copy-vs-move contract (SURVEY §8):
  * merging 4 shard BM25 indexes into one, with the corpus-sized parts
  * either byte-COPIED (sources preserved — a full sequential IO pass
  * through one driver thread) or RENAMED (move=true — O(1) metadata per
  * file), at 1x and Nx corpus scale. The claim under test: the move
  * merge's parts-union wall stays FLAT as the corpus grows (only the
  * vocabulary-sized df job scales), while the copy merge's wall grows
  * with the shard bytes — which is what makes move the 100 TB path.
  *
  * Scaling model: DeleteBench's — replica r shifts doc ids by r*1e9
  * with the same text plus one per-doc token, so postings bytes grow
  * ~linearly while the vocabulary (and the df job) grows slowly.
  *
  * Run: sbt "runMain graft.tools.MergeBench [replication]"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object MergeBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.length > 0) args(0).toInt else 10
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-mergebench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(" u"),
          (col("doc_id") % 100000).cast("string")).as("text"))

    def replicated(scale: Int): DataFrame =
      (0 until scale).map(r =>
        docs.select((col("doc_id") + lit(r * 1000000000L)).as("doc_id"),
          col("text")))
        .reduce(_.unionByName(_))
        .transform(graft.CacheScope.persisted)

    def dirBytes(d: java.io.File): Long =
      if (d.isFile) d.length
      else Option(d.listFiles).map(_.map(dirBytes).sum).getOrElse(0L)

    def run(scale: Int, warmup: Boolean = false): Unit = {
      val corpus = replicated(scale)
      corpus.count()
      val parent = java.nio.file.Files
        .createTempDirectory(s"graft-mergebench-$scale").toString
      // 4 shard indexes over disjoint doc slices — the distributed-build
      // setup whose merge is under test (builds untimed)
      val shards = (0 until 4).map { i =>
        val p = s"$parent/sh$i"
        graft.operators.Retrieval.buildBm25Index(
          corpus.filter(pmod(col("doc_id"), lit(4L)) === i),
          "doc_id", "text", p)
        p
      }
      val shardBytes = shards.map(p => dirBytes(new java.io.File(p))).sum
      // copy path: sources preserved, every byte streamed
      val t0 = System.nanoTime()
      graft.operators.Retrieval.bm25Merge(spark, shards, s"$parent/copy")
      val copyWall = (System.nanoTime() - t0) / 1e9
      // move path: fresh shard clones (clone cost untimed — a real
      // distributed build's shards exist to be consumed), parts renamed
      val clones = shards.zipWithIndex.map { case (p, i) =>
        val c = s"$parent/mv$i"
        org.apache.commons.io.FileUtils.copyDirectory(
          new java.io.File(p), new java.io.File(c))
        c
      }
      val t1 = System.nanoTime()
      graft.operators.Retrieval.bm25Merge(
        spark, clones, s"$parent/move", move = true)
      val moveWall = (System.nanoTime() - t1) / 1e9
      if (!warmup)
        println(f"[merge-bench] scale=$scale%-3d shards=4 " +
          f"bytes=${shardBytes / 1024}%7d KiB  " +
          f"copy=$copyWall%6.2f s  move=$moveWall%6.2f s  " +
          f"copy/move=${copyWall / moveWall}%.2f")
      corpus.unpersist()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(parent))
    }
    run(1, warmup = true)
    run(1)
    run(n)
    spark.stop()
  }
}
