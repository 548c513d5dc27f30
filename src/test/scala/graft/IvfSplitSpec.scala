package graft

import org.apache.spark.sql.functions._

/** The IVF cell-split rebalance: exact reassignment invariants, untouched
  * cells byte-identical, layout-blindness on the quantized index, orphan
  * recovery, and the costing twin's prediction == execution.
  */
class IvfSplitSpec extends SparkSpec {
  import spark.implicits._

  private def sim = graft.operators.Similarity

  // two separable clusters around (1,0) and (0,1), more mass on the first
  private def clustered(n: Int): org.apache.spark.sql.DataFrame =
    (0 until n).map { i =>
      if (i % 3 != 0) (i.toLong, Seq(1.0, 0.001 * i))
      else (i.toLong, Seq(0.001 * i, 1.0))
    }.toDF("id", "vec")

  private def cellsOf(path: String): Map[Long, Long] =
    spark.read.parquet(s"$path/corpus")
      .groupBy(col("cell")).count().collect()
      .map(r => (r.get(0).toString.toLong, r.getLong(1))).toMap

  private def idsOf(path: String): Seq[Long] =
    spark.read.parquet(s"$path/corpus")
      .select(col("id")).collect().map(_.getLong(0)).sorted.toSeq

  test("split reassigns every row to its nearer child; parent retired") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-split").toString
    val corpus = clustered(30)
    // nlist=1: everything lands in one (hot) cell
    sim.buildIvfIndex(corpus, "id", "vec", nlist = 1, dir)
    val before = idsOf(dir)
    // probe BEFORE: nprobe=1 over one cell is a full scan
    val q = Seq((100L, Seq(1.0, 0.0))).toDF("id", "vec")
    val probeBefore = sim.ivfTopKIndexed(dir, q, "id", "vec", k = 5, nprobe = 1)
      .collect().map(_.toString).sorted.toSeq
    val splits = sim.ivfSplitCells(spark, dir, maxCellRows = 10)
    assert(splits === Seq((0, 1, 2)))
    // ids preserved exactly
    assert(idsOf(dir) === before)
    // every row sits with the NEARER of the two children (recomputed
    // against the swapped-in centroid table)
    val cents = spark.read.parquet(s"$dir/centroids")
      .orderBy(col("cell")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq
    assert(cents.map(_._1) === Seq(1, 2)) // parent 0 retired
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    spark.read.parquet(s"$dir/corpus")
      .select(col("id"), col("vec"), col("cell")).collect().foreach { r =>
        val v = r.getSeq[Double](1)
        val nearer = cents.minBy(c => d2(v, c._2))._1
        assert(r.get(2).toString.toInt === nearer,
          s"row ${r.getLong(0)} not in its nearer child")
      }
    // parent dir is gone; no tmp debris
    val dirs = new java.io.File(s"$dir/corpus").listFiles().map(_.getName)
    assert(!dirs.contains("cell=0"))
    assert(new java.io.File(dir).listFiles().map(_.getName)
      .count(n => n.contains("_tmp") || n.contains("_bak")) === 0)
    // probe AFTER: nprobe=2 over the two children scans the same corpus
    // -> identical relation (recall exactly preserved here)
    val probeAfter = sim.ivfTopKIndexed(dir, q, "id", "vec", k = 5, nprobe = 2)
      .collect().map(_.toString).sorted.toSeq
    assert(probeAfter === probeBefore)
  }

  test("balanced cells are untouched byte-for-byte; plan predicts the split set") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-split-b").toString
    sim.buildIvfIndex(clustered(30), "id", "vec", nlist = 2, dir)
    val byCell = cellsOf(dir)
    assert(byCell.size === 2 && byCell.values.sum === 30L)
    val (hotCell, hotN) = byCell.maxBy(_._2)
    val (coldCell, coldN) = byCell.minBy(_._2)
    assert(hotN > coldN) // 2:1 construction
    def fileState(cell: Long): Set[(String, Long)] =
      new java.io.File(s"$dir/corpus/cell=$cell").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length)).toSet
    val coldBefore = fileState(coldCell)
    // the costing twin names exactly the hot cell
    val plan = sim.ivfSplitPlan(spark, dir, maxCellRows = coldN)
      .collect().map(r => (r.get(0).toString.toLong, r.getLong(1))).toSeq
    assert(plan === Seq((hotCell, hotN)))
    val splits = sim.ivfSplitCells(spark, dir, maxCellRows = coldN)
    assert(splits.map(_._1) === Seq(hotCell.toInt))
    assert(fileState(coldCell) === coldBefore)
    // balance improved: no cell above the parent's size
    assert(cellsOf(dir).values.max < hotN)
    // a balanced index is a no-op for both
    assert(sim.ivfSplitPlan(spark, dir, maxCellRows = 30).collect().isEmpty)
    assert(sim.ivfSplitCells(spark, dir, maxCellRows = 30) === Seq.empty)
  }

  test("split is layout-blind: the quantized index splits with its columns intact") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-split-q").toString
    val corpus = clustered(30).withColumnRenamed("id", "vec_id")
      .withColumnRenamed("vec", "embedding")
    sim.buildIvfIndex(corpus, "vec_id", "embedding", nlist = 1, dir,
      quantized = true)
    val splits = sim.ivfSplitCells(spark, dir, maxCellRows = 10)
    assert(splits.nonEmpty)
    val cols = spark.read.parquet(s"$dir/corpus").columns.sorted.toSeq
    assert(cols === Seq("cell", "id", "qn2", "qvec", "vec"))
    // the quantized probe over the split index: every hit re-verifies
    // against the exact cosine on its own vectors
    val q = Seq((200L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val hits = sim.ivfQTopKIndexed(dir, q, "vec_id", "embedding",
      k = 3, nprobe = 2).collect()
    assert(hits.nonEmpty)
    val byId = corpus.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    hits.foreach { h =>
      val v = byId(h.getAs[Long]("id"))
      val exact = v.head / math.sqrt(v.map(x => x * x).sum)
      assert(math.abs(h.getAs[Double]("sim") - exact) < 1e-9)
    }
  }

  test("orphan cells from a crashed split are cleaned up on the next run") {
    val dir = java.nio.file.Files.createTempDirectory("ivf-split-o").toString
    sim.buildIvfIndex(clustered(30), "id", "vec", nlist = 2, dir)
    val before = idsOf(dir)
    // manufacture the crash window: a dark cell dir not in the centroid
    // table (children landed, centroids never swapped)
    val stage = java.nio.file.Files.createTempDirectory("ivf-split-o-s").toString
    Seq((-999L, Seq(9.0, 9.0), 99)).toDF("id", "vec", "cell")
      .drop("cell").coalesce(1).write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val dst = new java.io.File(s"$dir/corpus/cell=99")
    dst.mkdirs()
    java.nio.file.Files.move(part.toPath,
      new java.io.File(dst, part.getName).toPath)
    // a no-op split call performs the cleanup
    assert(sim.ivfSplitCells(spark, dir, maxCellRows = 1000) === Seq.empty)
    assert(!new java.io.File(s"$dir/corpus/cell=99").exists())
    assert(idsOf(dir) === before)
  }

  test("split rejects a bad threshold and tolerates an empty index") {
    intercept[IllegalArgumentException] {
      sim.ivfSplitCells(spark, "/nonexistent", maxCellRows = 0)
    }
    val dir = java.nio.file.Files.createTempDirectory("ivf-split-e").toString
    sim.ivfInit(spark,
      Array(Array(1.0, 0.0), Array(0.0, 1.0)), s"$dir")
    assert(sim.ivfSplitCells(spark, dir, maxCellRows = 5) === Seq.empty)
  }
}
