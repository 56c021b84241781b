package graft.core

import graft.operators.Transformer

/** Subprocess body for the task-retry crash scenario (CrashSpec): the
  * shared test session is `local[4]` = fail-fast, and a JVM holds one
  * SparkContext, so the `spark.task.maxFailures` path needs its own
  * JVM with a `local[2, 2]` master (second slot = task maxFailures).
  *
  * Every task's FIRST attempt throws; Spark's task-level retry — the
  * supervision layer SURVEY §2.1 #20 maps the reference's restart
  * strategy onto (reference: test/crash_test.exs kill-and-resume
  * scenarios) — reruns it and the second attempt succeeds, so the
  * pipeline completes with exact results and no skipped data.
  * Exit 0 = retried-and-correct; anything else fails the spec.
  */
object RetryProbe {
  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession.builder(2).master("local[2, 2]")
      .appName("graft-retry-probe")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val flow: graft.Flow = Map("s" -> spark.range(8).toDF("v"))
    val out = Transformer("s") { df =>
      df.as[Long].mapPartitions { it =>
        if (org.apache.spark.TaskContext.get().attemptNumber() == 0)
          throw new RuntimeException("flaky-first-attempt")
        it.map(_ * 2)
      }.toDF("v")
    }(flow)
    val got = out("s").as[Long].collect().sorted.toSeq
    spark.stop()
    if (got != (0L until 8L).map(_ * 2)) {
      System.err.println(s"wrong result after retry: $got")
      sys.exit(2)
    }
  }
}
