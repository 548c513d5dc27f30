package graft.tools

import org.apache.spark.sql.functions._

/** Prices the BPE-encode PLAN cost against the merge-table size — the
  * round-15 production-shape claim: encoding with the single
  * [[graft.functions.BpeExprs.BpeEncodeApply]] expression is O(1) plan
  * nodes in the merge count, so a real tokenizer's table (32k merges)
  * analyzes and compiles like a toy one. The chained-fold form it
  * replaced (one nested expression per merge, 64-round codegen cap) is
  * measured alongside at the sizes it still accepts: its cost grows
  * with the table, the expression's stays flat.
  *
  * Each cell times plan + execution end-to-end (count over the encoded
  * corpus) at min-of-3; the merge table is a synthetic dependency chain
  * (merge k consumes merge k-1's symbol) over tokens the corpus
  * actually contains, so every round does real work where the corpus
  * reaches it.
  *
  * Run: sbt "runMain graft.tools.BpeBench"
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
  */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-bpebench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val docs = graft.Tables.load(spark, baseDir, "documents")
      .select(col("doc_id"), col("text"))
      .localCheckpoint(true) // take the scan out of every cell

    // seed the chain from the corpus's own most frequent adjacent pair
    // so early merges hit real text; the synthetic tail extends the
    // table to production size (its symbols stop matching once the
    // chain outruns the corpus, which is exactly the service-time shape
    // of a large trained table over any single document)
    val trained = graft.operators.TextAnalysis
      .bpeMerges(docs, "text", rounds = 8)
      .orderBy("round")
      .select("pair_a", "pair_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def table(n: Int): Seq[(String, String)] =
      trained ++ (trained.size until n).map(i => (s"zz$i", s"zz${i + 1}"))

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    def cell(body: => Unit): Double = (1 to 3).map(_ => timed(body)).min

    val sizes = Seq(16, 64, 1024, 8192, 32768)
    val expr = sizes.map { n =>
      n -> cell {
        graft.operators.TextAnalysis
          .bpeEncode(docs, "doc_id", "text", table(n))
          .select(sum(size(col("tokens")))).collect()
      }
    }
    // 32 is the chained form's HONEST cap: nested higher-order funcs
    // cost one analyzer pass per level and the analyzer's iteration
    // limit trips near ~40 (chain64 fails Resolution outright)
    val chained = Seq(8, 16, 32).map { n =>
      n -> cell {
        graft.operators.TextAnalysis
          .bpeEncodeChained(docs, "doc_id", "text", table(n))
          .select(sum(size(col("tokens")))).collect()
      }
    }
    val e = expr.map { case (n, t) => f"$n=$t%.2fs" }.mkString("  ")
    val c = chained.map { case (n, t) => f"$n=$t%.2fs" }.mkString("  ")
    println(s"[bpe-bench] expression: $e")
    println(s"[bpe-bench] chained:    $c")
    val flat = expr.last._2 / math.max(expr.head._2, 1e-9)
    println(f"[bpe-bench] expression 32768/16 ratio = $flat%.2f " +
      "(flat plan cost: ~1.0 means table size is free)")
    spark.stop()
  }
}
