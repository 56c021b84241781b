package graft

import org.apache.spark.sql.functions._

/** Constrained-heap probe (round-12 verdict #4): every bench telemetry
  * row ever recorded shows `disk_spill_b: 0` — the spill path of the
  * heavy operators had never executed, so "completes under memory
  * pressure" was an untested claim. This probe runs the heavy tail on
  * a 4 GiB heap (vs the bench's 8 GiB / the 100× probe's 48 GiB) with
  * few, fat partitions, and REQUIRES that
  *
  *   1. every leg completes (no OOM), and
  *   2. the run as a whole spills to disk (the pressure was real and
  *      the operators degraded gracefully instead of dying).
  *
  * Legs: the wide global sort that is guaranteed to exceed execution
  * memory (60M full-width lineitem rows through
  * [[graft.operators.Relational.globalIndex]]), plus the two heavy
  * named operators of the 100× probe — minhashPairs at 500k docs and
  * semanticDedupViaKnnGraph at 200k embeddings — under the same
  * constrained heap.
  *
  * Run: SPARK_DRIVER_MEM=4g sbt "Test/runMain graft.SpillProbe"
  * (build.sbt wires SPARK_DRIVER_MEM into the forked JVM's -Xmx; the
  * probe refuses to run on a roomy heap — no pressure, no evidence).
  */
object SpillProbe {

  private final class SpillTelemetry extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.AtomicLong
    val memSpillB = new AtomicLong
    val diskSpillB = new AtomicLong
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        memSpillB.addAndGet(m.memoryBytesSpilled)
        diskSpillB.addAndGet(m.diskBytesSpilled)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val maxHeap = Runtime.getRuntime.maxMemory()
    require(maxHeap <= (5L << 30),
      f"SpillProbe: heap is ${maxHeap / 1e9}%.1f GB — run with " +
        "SPARK_DRIVER_MEM=4g; a roomy heap exercises no memory pressure")
    // local[8], 16 shuffle partitions: fewer, fatter tasks concentrate
    // per-task working sets so the 4g execution pool is actually
    // contended (32 thin tasks would tiptoe under it).
    val spark = LocalSession.builder(8).config("spark.sql.shuffle.partitions", 16)
      .config("spark.local.dir", "/tmp/graft_spill_local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tel = new SpillTelemetry
    spark.sparkContext.addSparkListener(tel)
    val d = "/root/testdata/sf0.1"
    val tmp = "/tmp/graft_spill_tmp"

    def mat(df: org.apache.spark.sql.DataFrame, name: String) = {
      df.write.mode("overwrite").parquet(s"$tmp/$name")
      spark.read.parquet(s"$tmp/$name")
    }
    def leg(label: String)(f: => Long): Unit = {
      val m0 = tel.memSpillB.get; val d0 = tel.diskSpillB.get
      val t0 = System.nanoTime()
      val n = f
      org.apache.spark.GraftListenerBridge.waitUntilEmpty(
        spark.sparkContext, 10000L)
      println(f"$label: ${(System.nanoTime() - t0) / 1e9}%.1fs rows=$n " +
        f"mem_spill_mb=${(tel.memSpillB.get - m0) / (1 << 20)} " +
        f"disk_spill_mb=${(tel.diskSpillB.get - d0) / (1 << 20)}")
      graft.core.CacheRegistry.unpersistAll()
      spark.catalog.clearCache()
      System.gc()
    }

    // 60M FULL-WIDTH lineitem rows (~9 GB unpacked) through a global
    // sort — more data than heap, by construction
    val li = spark.read.parquet(s"$d/lineitem.parquet")
    val li100 = mat((0 until 100).map(k =>
      li.withColumn("l_orderkey", col("l_orderkey") + k * 10000000L))
      .reduce(_ unionAll _).repartition(16), "li100")
    leg("globalIndex 60M full-width rows, 4g heap")(
      graft.operators.Relational.globalIndex(li100,
        Seq(col("l_orderkey"), col("l_linenumber"))).count())

    // the 100× probe's named heavy dedup operator, same scale, 1/12th
    // the heap
    val docs0 = spark.read.parquet(s"$d/documents.parquet")
    val docs100 = mat((0 until 100).map(k =>
      docs0.select((col("doc_id") + k * 100000L).as("doc_id"), col("text")))
      .reduce(_ unionAll _).repartition(16), "docs100")
    leg("minhashPairs 500k docs, 4g heap")(
      graft.operators.Dedup.minhashPairs(
        docs100, "doc_id", "text", 2, 64, 16, 0.5).count())

    // the 100× probe's named heavy similarity operator
    val emb0 = spark.read.parquet(s"$d/embeddings.parquet")
    val emb100 = mat((0 until 100).map(k =>
      emb0.select((col("vec_id") + k * 100000L).as("vec_id"), col("embedding")))
      .reduce(_ unionAll _).repartition(16), "emb100")
    leg("semanticDedupViaKnnGraph 200k embeddings, 4g heap")(
      graft.operators.Dedup.semanticDedupViaKnnGraph(
        emb100, "vec_id", "embedding", 0.35, k = 8, nlist = 448,
        nprobe = 8).count())

    val spilled = tel.diskSpillB.get
    println(f"total disk spill: ${spilled / (1 << 20)} MB " +
      f"(mem ${tel.memSpillB.get / (1 << 20)} MB)")
    require(spilled > 0,
      "SpillProbe: no disk spill recorded — the heap was never " +
        "pressured; shrink it or grow the legs until the spill path runs")
    spark.stop()
    def rmrf(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File("/tmp/graft_spill_local"))
    rmrf(new java.io.File(tmp))
    println("SpillProbe PASS: heavy tail completes under 4g with graceful spill")
  }
}
