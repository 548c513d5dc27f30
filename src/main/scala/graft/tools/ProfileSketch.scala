package graft.tools

import org.apache.spark.sql.functions._

/** Decomposes the MinHash/SimHash sketch cost on the documents table so the
  * per-stage spend (tokenize/shingle vs digest+family vs banding) is visible
  * in isolation from the candidate-join machinery — the measurement behind
  * the round-8 familyHash drift adjudication. Each stage is forced with a
  * cheap aggregate so scan+compute dominate the timing.
  *
  * Run: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.tools.ProfileSketch"
  */
object ProfileSketch {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-profilesketch", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    def best3(body: => Unit): Double =
      (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min

    val docs = graft.Tables.load(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"),
      split(lower(col("text")), "[^a-z0-9]+").as("toks"))
    val sh = toks.select(col("doc_id"),
      graft.functions.HashExprs.wordShingles(col("toks"), 3).as("sh"))

    val stages: Seq[(String, () => Unit)] = Seq(
      "scan_only" -> (() =>
        docs.agg(sum(length(col("text")))).collect()),
      "tokenize" -> (() =>
        toks.agg(sum(size(col("toks")))).collect()),
      "shingle3" -> (() =>
        sh.agg(sum(size(col("sh")))).collect()),
      "minhash64" -> (() =>
        sh.select(graft.functions.HashExprs.minhashSig(col("sh"), 64).as("sig"))
          .agg(sum(element_at(col("sig"), 1))).collect()),
      "simhash64" -> (() =>
        toks.select(graft.functions.HashExprs.simhash64(col("toks")).as("fp"))
          .agg(sum(bit_count(col("fp")))).collect()),
      "hashedset" -> (() =>
        sh.select(graft.functions.HashExprs.hashedSortedSet(col("sh")).as("hs"))
          .agg(sum(size(col("hs")))).collect()))

    stages.foreach { case (name, body) =>
      println(f"[sketch] $name%-12s ${best3(body())}%7.3f s (best of 3)")
    }
    spark.stop()
  }
}
