package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Job-level decomposition of a query's wall time: registers a listener and
  * reports, for one warm run of each named query, the number of Spark jobs
  * (= driver-side actions: persists, iterative rounds, index writes, the
  * final collect) with total in-job time vs the query's wall time. The gap
  * between wall and Σjob is pure driver/scheduler dead time — the
  * per-action fixed overhead that dominates small-SF multi-action queries
  * (the round-8 drift adjudication; at cluster scale the same actions
  * amortize over real data).
  *
  * Run: sbt "runMain graft.tools.ProfileJobs q53_dedup_clusters q59_ivf_index_parity"
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.Tables.localSession("graft-profilejobs", cpus)
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    // java.lang.Long (not scala Long): remove() on a missing key must return
    // null, not unbox to 0L, or a dropped job-start event would silently add
    // the epoch-ms end time to jobMs.
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val jobMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobs = new java.util.concurrent.atomic.AtomicLong(0L)
    // SPARK_GRAFT_JOBDETAIL=1: also print each job's duration + call site,
    // to attribute a job-storm to its actions
    val detail = sys.env.get("SPARK_GRAFT_JOBDETAIL").contains("1")
    val sites = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        starts.put(e.jobId, e.time)
        if (detail) {
          // attribute the job to the innermost graft frame of its result
          // stage's call site (the job properties carry no callSite in
          // local mode; StageInfo.details is the submission stack trace).
          // The result stage has the highest id; lower ids are upstream
          // shuffle-map stages whose stacks name where their exchange's
          // RDD was built, not the action that submitted the job.
          val graftFrame = e.stageInfos.maxByOption(_.stageId)
            .map(_.details).getOrElse("")
            .split('\n')
            .find(l => l.contains("graft.") && !l.contains("graft.tools."))
            .map(_.trim).getOrElse("?")
          sites.put(e.jobId, graftFrame)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val s = starts.remove(e.jobId)
        if (s != null) {
          jobMs.addAndGet(e.time - s.longValue); jobs.incrementAndGet()
          if (detail) println(f"[job] #${e.jobId}%3d ${(e.time - s.longValue) / 1e3}%6.3f s  ${sites.remove(e.jobId)}")
        }
      }
    })

    val names = if (args.nonEmpty) args.toSeq
      else Seq("q53_dedup_clusters", "q59_ivf_index_parity",
        "q60_bloom_decontam_sound", "q96_leakage_split", "q107_best_survivor")
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      fn(spark, sfDir).count() // warm (plan compile + JIT)
      spark.sharedState.cacheManager.clearCache()
      // settle listener events from the warm run before measuring
      Thread.sleep(300) // let the async listener bus drain (no public wait)
      jobMs.set(0L); jobs.set(0L)
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the async listener bus drain (no public wait)
      val inJobs = jobMs.get() / 1e3
      println(f"[jobs] $name%-26s wall=$wall%6.3f s  jobs=${jobs.get()}%3d  " +
        f"in-job=$inJobs%6.3f s  dead=${wall - inJobs}%6.3f s")
      spark.sharedState.cacheManager.clearCache()
    }
    spark.stop()
  }
}
