package graft

import graft.operators.{DedupRegistry, NearDupRegistry, Retrieval, Similarity}
import org.apache.spark.metrics.source.CodegenMetrics

/** Repeated estate probes reuse the session's generated code: the codegen
  * cache that [[Tables.localSession]] sizes holds the probes' working set,
  * so a second pass over identical inputs compiles nothing. With Spark's
  * 100-entry default the four probes cycle more distinct classes than the
  * cache holds, and the second pass here recompiles 75 of them.
  */
class CodegenReuseSpec extends SparkSpec {
  import spark.implicits._

  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a second pass of the four estate probes compiles no generated code") {
    val dir = java.nio.file.Files.createTempDirectory("codegen-reuse").toString
    val root = Seq("dedup", "neardup", "bm25", "ivf").map(f => f -> s"$dir/$f").toMap
    val rnd = new scala.util.Random(7)
    val docs = (0 until 60).map { i =>
      val words = Seq.fill(12)(s"w${rnd.nextInt(40)}")
      // every tenth document repeats an earlier one, so both registries
      // see duplicates
      val text = if (i % 10 == 9) s"doc ${i - 1} " + words.mkString(" ") else s"doc $i " + words.mkString(" ")
      (i.toLong, text, Seq.fill(4)(rnd.nextGaussian()))
    }.toDF("id", "text", "vec")

    DedupRegistry.init(spark, root("dedup"), 2)
    NearDupRegistry.init(spark, root("neardup"), 2)
    Retrieval.bm25Init(spark, root("bm25"), 2)
    Similarity.ivfInit(spark, Similarity.trainIvfCentroids(docs, "id", "vec", 4), root("ivf"))
    DedupRegistry.ingestBatch(root("dedup"), docs, "id", "text", 0L)
    NearDupRegistry.ingestBatch(root("neardup"), docs, "id", "text", 0L)
    Retrieval.bm25IngestBatch(root("bm25"), docs, "id", "text", 0L)
    Similarity.ivfIngestBatch(root("ivf"), docs, "id", "vec", 0L)

    val queries = Seq((1L, "w1 w2"), (2L, "w3 w5 w8")).toDF("query_id", "query_text")
    val vectors = Seq((1L, Seq(0.5, -0.5, 1.0, 0.0))).toDF("qid", "qvec")
    val probeDocs = Seq((100L, "doc 3 w1 w2 w3"), (101L, "fresh words here"))
      .toDF("id", "text")
    def probes(): Seq[Int] = Seq(
      Retrieval.bm25TopKIndexed(root("bm25"), queries, 3).collect().length,
      Similarity.ivfTopKIndexed(root("ivf"), vectors, "qid", "qvec", 3).collect().length,
      NearDupRegistry.probe(spark, root("neardup"), probeDocs, "id", "text")
        .select("id", "is_new").collect().length,
      DedupRegistry.probe(spark, root("dedup"), probeDocs, "id", "text")
        .select("id", "is_new").collect().length)

    val first = probes()
    val before = compiles
    val second = probes()
    assert(second === first)
    assert(compiles - before === 0L,
      "the second pass over identical inputs recompiled generated classes")
  }

  test("the session carries the static codegen-cache and status-store settings") {
    val sql = spark.sessionState.conf
    assert(sql.codegenCacheMaxEntries === Tables.CodegenCacheEntries)
    val conf = spark.sparkContext.getConf
    assert(conf.get("spark.ui.retainedJobs") === Tables.RetainedUiHistory.toString)
    assert(conf.get("spark.ui.retainedStages") === Tables.RetainedUiHistory.toString)
    assert(conf.get("spark.sql.ui.retainedExecutions") === Tables.RetainedUiHistory.toString)
  }
}
