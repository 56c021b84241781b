package graft

/** Dump `.explain("formatted")` for named queries to files — the
  * optimization-round evidence artifacts (plans/r16/<q>_{before,after}.txt).
  * Usage: Test/runMain graft.PlanDump <outDir> <suffix> q_a q_b ...
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0); val suffix = args(1); val qs = args.drop(2)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    new java.io.File(outDir).mkdirs()
    for (q <- qs) {
      try {
        val df = SparkEntry.queries(q)(spark, d)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), txt)
        println(s"[plandump] wrote $q ($suffix): ${txt.length} chars")
      } catch { case e: Throwable =>
        System.err.println(s"[plandump] $q FAILED: $e")
      }
      finally graft.core.CacheRegistry.unpersistAll()
    }
    spark.stop()
  }
}
