package graft.tools

/** Ad-hoc single-query runner: executes named SparkEntry queries against a
  * testdata dir and prints row count plus the first rows — the quickest way
  * to eyeball a gate query's result (e.g. "is q40 still the empty set?")
  * without a full Verify pass.
  *
  * Run: sbt "runMain graft.tools.RunQuery q40_ann_lsh_sound q41_ann_ivf_sound"
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS, SHOW_ROWS.
  */
object RunQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val showRows = sys.env.getOrElse("SHOW_ROWS", "5").toInt
    val spark = graft.Tables.localSession("graft-runquery", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val n = df.count()
      println(s"[runquery] $name rows=$n")
      if (showRows > 0) df.show(showRows, truncate = false)
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
