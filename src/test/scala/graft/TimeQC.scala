package graft

/** Optimization-round probe: time queries under EXPERIMENTAL Spark conf
  * overrides without touching the bench contract. Overrides come from
  * env `PROBE_CONF` as "key=value;key=value". Runs each named query
  * `PROBE_RUNS` (default 4) times, reports every run + the median of
  * the post-warmup runs, and the last run's job count split into build
  * jobs (launched while the query builder runs; by then the parquet
  * schema catalog holds the query's tables, so opens add none) and
  * action jobs. Dev tool only — never wired into Bench.
  */
object TimeQC {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = LocalSession.builder(cpus.toInt)
    sys.env.get("PROBE_CONF").foreach { s =>
      s.split(";").filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k.trim, v.trim)
      }
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Deterministic per-query work profile: jobs/stages/tasks counted
    // off the listener bus — box-noise-free signals of scheduling
    // overhead (seconds alone swing ±30% between invocations here).
    // Jobs launched inside `queries(q)(spark, d)` carry the `buildTag`
    // local property and count as build jobs; the rest are the action's.
    val buildTag = "graft.probe.build"
    val buildJobs = new java.util.concurrent.atomic.AtomicLong
    val actionJobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val build = Option(j.properties).exists(_.getProperty(buildTag) != null)
          (if (build) buildJobs else actionJobs).incrementAndGet(); ()
        }
        override def onStageCompleted(
            s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          tasks.addAndGet(s.stageInfo.numTasks.toLong); ()
        }
      })
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // >= 2: run 1 is warmup-only (dropped below); PROBE_RUNS=1 would
    // otherwise make ts.drop(1) empty and the median .apply throw
    val runs = math.max(2, sys.env.getOrElse("PROBE_RUNS", "4").toInt)
    // JVM/codegen warmup mirroring Bench
    Seq("q_agg", "q_words_count", "q_sim_brute").foreach { q =>
      try SparkEntry.queries(q)(spark, d).count()
      catch { case _: Throwable => () }
    }
    for (q <- args) {
      val times = (1 to runs).map { i =>
        if (i == runs) { // profile the LAST run only (post-warmup)
          org.apache.spark.GraftListenerBridge.waitUntilEmpty(
            spark.sparkContext, 10000L)
          buildJobs.set(0); actionJobs.set(0); stages.set(0); tasks.set(0)
        }
        val t0 = System.nanoTime()
        spark.sparkContext.setLocalProperty(buildTag, q)
        val df = try SparkEntry.queries(q)(spark, d)
          finally spark.sparkContext.setLocalProperty(buildTag, null)
        val n = df.count()
        graft.core.CacheRegistry.unpersistAll(blocking = true)
        spark.catalog.clearCache()
        val dt = (System.nanoTime() - t0) / 1e9
        (dt, n)
      }
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(
        spark.sparkContext, 10000L)
      val ts = times.map(_._1)
      val med = ts.drop(1).sorted.apply((runs - 1) / 2)
      println(f"$q%-24s med=${med}%.3f build_jobs=${buildJobs.get} " +
        f"action_jobs=${actionJobs.get} stages=${stages.get} " +
        f"tasks=${tasks.get} runs=${ts.map(t => f"$t%.2f").mkString(",")} rows=${times.head._2}")
    }
    spark.stop()
  }
}
