package layerbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run: `Main <plan-file>`.
  *
  * Sets up a session (several times; the first counts from JVM start), then
  * measures one pass over the workload (more when traced) and writes every
  * raw measurement as one JSON object to the plan's `out` file. Statistics
  * and checks against the pinned results are left to run.py. An untraced
  * run attaches no listener to Spark's bus apart from the stream workload's
  * progress listener. A traced batch run measures pass A, each query
  * untraced and traced back to back, then pass B all traced; a traced
  * stream run measures pass A traced, U untraced and B traced. The spans of
  * the traced runs go to the plan's `spans` file.
  */
object Main {
  def session(plan: Plan, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${plan.cores}]")
      .appName("layerbench")
      .config("spark.sql.shuffle.partitions", plan.cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** CPU time of the whole JVM (driver and local executors), in ms. */
  def cpuMs(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap in use after full collections, repeated until the reading stops
    * falling: Spark's ContextCleaner frees shuffle, broadcast and RDD state
    * only after a collection has shown it unreachable, and a busy box
    * finishes that later.
    */
  private def liveHeapMb(): Double = {
    def collected(): Double = {
      System.gc(); Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var (prev, cur, rounds) = (collected(), collected(), 2)
    while (prev - cur > 1.0 && rounds < 10) { prev = cur; cur = collected(); rounds += 1 }
    cur
  }

  def main(args: Array[String]): Unit = {
    val plan = Plan.load(args(0))
    val work = Files.createDirectories(Paths.get(plan("work_dir")).toAbsolutePath)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val ids = Iterator.from(1)

    val setupMs = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var streams: StreamRunner = null
    for (i <- 0 until plan.int("setups")) {
      if (spark != null) {
        spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStart else System.currentTimeMillis()
      spark = session(plan, work)
      if (plan.isStream) {
        streams = new StreamRunner(spark, plan, work)
        streams.warmup(s"setup$i")
      } else {
        val runner = new BatchRunner(spark)
        plan.list("warmup").foreach(q => runner.run(q, plan("warmup_dir"), s"setup$i/$q"))
      }
      setupMs += (System.currentTimeMillis() - t0).toDouble
    }

    val spanLines = mutable.ArrayBuffer.empty[String]
    def withProbe[A](p: Probe)(body: => A): A = {
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
      try body
      finally {
        spark.listenerManager.unregister(p)
        spark.sparkContext.removeSparkListener(p)
      }
    }

    /** Runs `ops` in order; a `true` op is traced, its listeners attached
      * for that op only and drained before the next.
      */
    def batchPass(idx: Int, ops: Seq[(String, Boolean)]): Map[String, Any] = {
      val runner = new BatchRunner(spark)
      val probe = new Probe
      val (t0, c0) = (System.nanoTime(), cpuMs())
      val done = ops.map { case (q, traced) =>
        val key = s"$idx/$q" + (if (traced) "" else "/untraced")
        if (!traced) runner.run(q, plan("sf_dir"), key) -> false
        else withProbe(probe) {
          try runner.run(q, plan("sf_dir"), key)
          finally org.apache.spark.LayerbenchBus.drain(spark.sparkContext)
        } -> true
      }
      val (wallMs, cpu) = ((System.nanoTime() - t0) / 1e6, cpuMs() - c0)
      val opMaps = done.map { case (r, traced) =>
        if (!traced) r.toMap + ("traced" -> false)
        else {
          val (counters, spans) = probe.batchOp(r.windows, ids)
          spanLines ++= spans.map(_.toJson)
          r.toMap + ("traced" -> true) + ("counters" -> counters)
        }
      }
      Map("wall_ms" -> wallMs, "cpu_ms" -> cpu, "ops" -> opMaps)
    }

    def streamPass(tag: String, traced: Boolean): Map[String, Any] = {
      val probe = new Probe
      def pass = {
        // The replay (phase 2) runs first, so the open loop starts warm.
        val p2 = streams.drain(s"$tag-p2", ids)
        val p1 = streams.openLoop(s"$tag-p1", ids)
        org.apache.spark.LayerbenchBus.drain(spark.sparkContext)
        (p1, p2)
      }
      val (p1, p2) = if (traced) withProbe(probe)(pass) else pass
      if (traced) Seq(p1, p2).foreach(p => spanLines ++= p("spans").asInstanceOf[Seq[String]])
      Map("traced" -> traced, "p1" -> (p1 - "spans"), "p2" -> (p2 - "spans"),
        "counters" -> (if (traced) probe.totals else Map.empty))
    }

    val gc0 = gcMs()
    val m0 = System.currentTimeMillis()
    val ops = plan.list("ops")
    val passes: Seq[Map[String, Any]] =
      if (plan.isStream) {
        if (plan.traced) Seq("A" -> true, "U" -> false, "B" -> true)
          .map { case (tag, tr) => streamPass(tag, tr) + ("tag" -> tag) }
        else Seq(streamPass("M", traced = false) + ("tag" -> "M"))
      } else if (plan.traced) {
        // Pass A runs each query untraced and traced back to back, in turns
        // which first, so the overhead is measured at the same JVM warmth.
        val interleaved = ops.zipWithIndex.flatMap { case (q, i) =>
          if (i % 2 == 0) Seq(q -> false, q -> true) else Seq(q -> true, q -> false)
        }
        Seq(batchPass(0, interleaved) + ("tag" -> "A"),
          batchPass(1, ops.map(_ -> true)) + ("tag" -> "B"))
      } else Seq(batchPass(0, ops.map(_ -> false)) + ("tag" -> "M"))
    val measuredMs = System.currentTimeMillis() - m0
    val gcDuring = gcMs() - gc0
    val heap = liveHeapMb()

    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val box = Map("nproc" -> Runtime.getRuntime.availableProcessors,
      "memory_gb" -> os.getTotalMemorySize / 1073741824.0, "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576)
    val result = Map(
      "workload" -> plan.workload, "traced" -> plan.traced, "cores" -> plan.cores, "box" -> box,
      "setup_ms" -> setupMs.toSeq, "measured_ms" -> measuredMs, "driver_gc_ms" -> gcDuring,
      "live_heap_mb" -> heap, "passes" -> passes)
    Files.writeString(Paths.get(plan("out")), Json(result) + "\n")
    if (plan.traced) Files.write(Paths.get(plan("spans")), spanLines.asJava)
    spark.stop()
  }
}
