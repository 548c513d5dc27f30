package graft.tools


/** Ad-hoc per-query profiler: times named SparkEntry queries against a
  * testdata dir with the same session shape as Bench (cache cleared between
  * queries), reporting cold + warm wall times so plan-compilation overhead
  * and data throughput are visible separately.
  *
  * Run: sbt "runMain graft.tools.ProfileQueries q35_ann_ivf q36_emb_neardup"
  */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-profilequeries", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    graft.Tables.load(spark, sfDir, "lineitem").limit(1).collect()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val cold = timed { fn(spark, sfDir).count() }
      spark.sharedState.cacheManager.clearCache()
      val warm = timed { fn(spark, sfDir).count() }
      spark.sharedState.cacheManager.clearCache()
      println(f"[profile] $name%-24s cold=$cold%7.3f s  warm=$warm%7.3f s")
    }
    spark.stop()
  }
}
