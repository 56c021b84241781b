package graft

import graft.operators.Relational
import org.apache.spark.sql.functions._

/** Dev probe for the r17 InternalRow emit pass in Relational.prefixSums:
  * times the distributed prefix-sum path over a 20M-row synthetic frame
  * (big enough that per-row bridge cost dominates scheduling noise).
  * Run before/after the bridge change for the per-row evidence the
  * sf0.1 bench can't show (its frames are ~600k rows).
  */
object PrefixSumScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val n = sys.env.getOrElse("PROBE_N", "20000000").toLong
    val df = spark.range(n).select(
      col("id"),
      (col("id") % 9973).as("k"),
      (col("id") % 101 - 50).as("v"),
      concat(lit("payload-"), col("id")).as("s"))
    for (i <- 1 to 4) {
      val t0 = System.nanoTime()
      // force the distributed path regardless of estimate
      val out = Relational.withLocalRoute(local = false)(
        Relational.prefixSums(df, Seq(col("k"), col("id")),
          Seq(col("v") -> "cum", lit(1L) -> "rk")))
      val c = out.agg(sum(col("cum")), sum(col("rk"))).collect()(0)
      graft.core.CacheRegistry.unpersistAll(blocking = true)
      spark.catalog.clearCache()
      println(f"run$i: ${(System.nanoTime() - t0) / 1e9}%.2fs checksum=$c")
    }
    spark.stop()
  }
}
