package layerbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.{Component, Composite}
import graft.operators.Transformer
import graft.streaming.{ParcelsCep, StreamSink, StreamSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

/** The parcels input and the reference fold its statuses are checked against. */
object Parcels {
  val schema: StructType = StructType(Seq(
    StructField("order_key", LongType), StructField("kind", StringType),
    StructField("ts_us", LongType), StructField("to_ship", IntegerType),
    StructField("due_ms", LongType)))

  final case class Event(kind: String, tsUs: Long, toShip: Int, dueMs: Long)

  /** The decision rule of ParcelsCep's scaladoc as a plain fold over one
    * order's events in event-time order (ORDER first on ties): a shipment
    * more than `slaDays` after the order trips THRESHOLD_EXCEEDED, else the
    * order is ALL_PARCELS_SHIPPED once `toShip` parcels arrived. Shipments
    * seen before their order wait and are counted when it arrives. Returns
    * the status and the due time of the event that decided it.
    */
  def decide(events: Seq[Event], slaDays: Int): Option[(String, Long)] = {
    val slaUs = slaDays * 86400000000L
    var orderTs = Option.empty[Long]
    var toShip = 0; var shipped = 0
    val pending = mutable.ArrayBuffer.empty[Long]
    var out = Option.empty[(String, Long)]
    def absorb(ts: Long, due: Long): Unit = if (out.isEmpty) {
      if (ts > orderTs.get + slaUs) out = Some(("THRESHOLD_EXCEEDED", due))
      else { shipped += 1; if (shipped >= toShip) out = Some(("ALL_PARCELS_SHIPPED", due)) }
    }
    events.sortBy(e => (e.tsUs, if (e.kind == "ORDER") 0 else 1)).foreach { e =>
      if (e.kind == "ORDER") {
        orderTs = Some(e.tsUs); toShip = e.toShip
        if (out.isEmpty && shipped >= toShip) out = Some(("ALL_PARCELS_SHIPPED", e.dueMs))
        pending.sorted.foreach(absorb(_, e.dueMs)); pending.clear()
      } else if (orderTs.isEmpty) pending += e.tsUs
      else absorb(e.tsUs, e.dueMs)
    }
    out
  }
}

/** The parcels CEP stream, run as a Composite of the public components:
  * StreamSource.parquet → Transformer(ParcelsCep) → parquet StreamSink.
  */
final class StreamRunner(spark: SparkSession, plan: Plan, work: Path) {
  private val slaDays = plan.int("sla_days")
  private val stage = Paths.get(plan("stage_dir"))

  /** Progress reports and terminations, read from the public listener. */
  private val progressBuf = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var lastStarted: java.util.UUID = _
  private val listener = new StreamingQueryListener {
    import StreamingQueryListener._
    // Delivered synchronously inside start(), so it is set when start returns.
    def onQueryStarted(e: QueryStartedEvent): Unit = lastStarted = e.id
    def onQueryProgress(e: QueryProgressEvent): Unit =
      progressBuf.synchronized { progressBuf += e.progress; () }
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(listener)

  private def progressOf(id: java.util.UUID): Seq[StreamingQueryProgress] = {
    org.apache.spark.LayerbenchBus.drain(spark.sparkContext)
    progressBuf.synchronized(progressBuf.filter(_.id == id).toSeq).sortBy(_.batchId)
  }

  private def statuses(df: DataFrame): DataFrame = {
    import spark.implicits._
    ParcelsCep(df.select(col("order_key").as("orderKey"), col("kind"),
      col("ts_us").as("tsUs"), col("to_ship").as("toShip")).as[ParcelsCep.OrderEvent],
      slaDays).toDF()
  }

  private def flow(in: Path, sink: StreamSink, opts: Map[String, String]): Composite =
    Composite(Seq[Component](
      StreamSource.parquet("events", in.toString, Parcels.schema, opts),
      Transformer("events")(statuses), sink))

  private def files(phase: String): Seq[Path] =
    Files.list(stage.resolve(phase)).iterator().asScala.toSeq
      .filter(_.getFileName.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)

  private def dirs(tag: String): (Path, Path, Path) = {
    val d = work.resolve(tag)
    val in = Files.createDirectories(d.resolve("in"))
    (in, d.resolve("out"), d.resolve("ck"))
  }

  private def commitMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.longValue).getOrElse(0L)

  /** Sink rows with the batch that committed them, from the sink's log. */
  private def emitted(out: Path): Seq[(Long, String, Long)] = {
    val log = out.resolve("_spark_metadata")
    val entries = Files.list(log).iterator().asScala.toSeq.map(_.getFileName.toString)
      .filter(_.matches("\\d+(\\.compact)?")).sortBy(_.takeWhile(_.isDigit).toLong)
    val seen = mutable.HashMap.empty[String, Long]
    entries.foreach { f =>
      val batch = f.takeWhile(_.isDigit).toLong
      Files.readAllLines(log.resolve(f)).asScala.drop(1).foreach { line =>
        val p = "\"path\":\"([^\"]+)\"".r.findFirstMatchIn(line).map(_.group(1))
        p.foreach(x => seen.getOrElseUpdate(x.split('/').last, batch))
      }
    }
    spark.read.parquet(out.toString)
      .select(col("orderKey"), col("status"), input_file_name().as("f")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), seen(r.getString(2).split('/').last)))
  }

  /** The reference statuses of a phase's staged events. */
  private def expected(phase: String): Map[Long, (String, Long)] =
    spark.read.schema(Parcels.schema).parquet(files(phase).map(_.toString): _*).collect()
      .groupBy(_.getLong(0)).map { case (k, rows) =>
        k -> Parcels.decide(rows.toSeq.map(r =>
          Parcels.Event(r.getString(1), r.getLong(2), r.getInt(3), r.getLong(4))), slaDays)
      }.collect { case (k, Some(v)) => k -> v }

  /** Emitted vs expected statuses; latency of each right one from the due
    * time of its deciding event to the commit of the batch that emitted it.
    */
  private def check(phase: String, out: Path, prog: Seq[StreamingQueryProgress],
      t0: Long): (Int, Int, Seq[Double]) = {
    val exp = expected(phase)
    val commits = prog.map(p => p.batchId -> commitMs(p)).toMap
    val got = emitted(out)
    val byKey = got.groupBy(_._1)
    val wrong = exp.count { case (k, (s, _)) => !byKey.get(k).exists(g => g.size == 1 && g.head._2 == s) } +
      byKey.keySet.count(k => !exp.contains(k))
    val lat = got.flatMap { case (k, s, b) => exp.get(k).filter(_._1 == s).flatMap { case (_, due) =>
      commits.get(b).map(c => (c - (t0 + due)).toDouble) } }
    (exp.size, wrong, lat)
  }

  /** Mean per-batch phase durations and the state size at the end. */
  private def layers(prog: Seq[StreamingQueryProgress]): Map[String, Double] = {
    def mean(ks: String*) = if (prog.isEmpty) 0.0 else prog.map(p =>
      ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum).sum / prog.size
    val last = prog.lastOption.toSeq.flatMap(_.stateOperators)
    Map("batches" -> prog.size.toDouble, "trigger_ms" -> mean("triggerExecution"),
      "add_batch_ms" -> mean("addBatch"), "planning_ms" -> mean("queryPlanning"),
      "source_ms" -> mean("latestOffset", "getBatch"),
      "commit_ms" -> mean("walCommit", "commitOffsets"),
      "state_rows" -> last.map(_.numRowsTotal.toDouble).sum,
      "state_mem_b" -> last.map(_.memoryUsedBytes.toDouble).sum,
      "input_rows" -> prog.map(_.numInputRows.toDouble).sum)
  }

  private def spans(tag: String, prog: Seq[StreamingQueryProgress], ids: Iterator[Int]): Seq[Span] =
    prog.flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val trace = s"$tag/batch-${p.batchId}"
      val root = Span(ids.next(), -1, trace, "batch", start, commitMs(p),
        Map("input_rows" -> p.numInputRows))
      var at = start
      root +: Seq("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
        .flatMap(k => Option(p.durationMs.get(k)).map { d =>
          val s = Span(ids.next(), root.id, trace, k, at, at + d.longValue, Map("laid_out" -> true))
          at += d.longValue; s
        })
    }

  /** A small replay drained end to end, one file per micro-batch, to warm
    * the stream path.
    */
  def warmup(tag: String): Unit = {
    val (in, out, ck) = dirs(tag)
    files("warmup").foreach(f => Files.copy(f, in.resolve(f.getFileName)))
    spark.streams.resetTerminated()
    flow(in, StreamSink.parquet("events", out.toString, ck.toString),
      Map("maxFilesPerTrigger" -> "1"))(graft.EmptyFlow)
    spark.streams.awaitAnyTermination()
  }

  /** Phase 1: the open loop. Files become visible on a fixed schedule while a
    * continuously triggered query consumes them.
    */
  def openLoop(tag: String, ids: Iterator[Int]): Map[String, Any] = {
    val (in, out, ck) = dirs(tag)
    val period = plan.long("p1_period_ms")
    val src = files("p1")
    // Hidden names are skipped by the file source; a rename makes each visible.
    val hidden = src.zipWithIndex.map { case (f, i) =>
      Files.copy(f, in.resolve(f".f$i%05d.parquet"))
    }
    val sink = StreamSink("events", _.writeStream.format("parquet")
      .option("path", out.toString).option("checkpointLocation", ck.toString)
      .trigger(Trigger.ProcessingTime(0L)))
    flow(in, sink, Map.empty)(graft.EmptyFlow)
    val q = spark.streams.active.head
    val t0 = System.currentTimeMillis()
    val actual = hidden.zipWithIndex.map { case (h, i) =>
      val due = t0 + i * period
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Files.move(h, in.resolve(f"f$i%05d.parquet"), StandardCopyOption.ATOMIC_MOVE)
      System.currentTimeMillis() - t0
    }
    val genEnd = System.currentTimeMillis()
    q.processAllAvailable()
    StreamSink.stop(Set("events"))
    val prog = progressOf(q.id)
    val perFile = plan.long("p1_events_per_file")
    val doneAtEnd = prog.filter(p => commitMs(p) <= genEnd).map(_.numInputRows).sum
    val backlog = math.ceil((src.size * perFile - doneAtEnd).max(0L).toDouble / perFile)
    val (n, wrong, lat) = check("p1", out, prog, t0)
    Map("due_ms" -> src.indices.map(_ * period), "actual_ms" -> actual,
      "orders" -> n, "wrong" -> wrong, "latency_ms" -> lat,
      "layers" -> (layers(prog) + ("backlog_files_end" -> backlog)),
      "spans" -> spans(s"$tag/p1", prog, ids).map(_.toJson))
  }

  /** Phase 2: the whole replay is on disk before the query starts; it is
    * drained with the sink's AvailableNow trigger.
    */
  def drain(tag: String, ids: Iterator[Int]): Map[String, Any] = {
    val (in, out, ck) = dirs(tag)
    val src = files("p2")
    val base = System.currentTimeMillis() - 3600000L
    src.zipWithIndex.foreach { case (f, i) =>
      val t = Files.copy(f, in.resolve(f.getFileName))
      Files.setLastModifiedTime(t, FileTime.fromMillis(base + i * 1000L))
    }
    spark.streams.resetTerminated()
    val (t0, c0) = (System.nanoTime(), Main.cpuMs())
    flow(in, StreamSink.parquet("events", out.toString, ck.toString),
      Map("maxFilesPerTrigger" -> plan("p2_max_files")))(graft.EmptyFlow)
    spark.streams.awaitAnyTermination()
    val (drainMs, cpu) = ((System.nanoTime() - t0) / 1e6, Main.cpuMs() - c0)
    val prog = progressOf(lastStarted)
    val (n, wrong, _) = check("p2", out, prog, 0L)
    Map("drain_ms" -> drainMs, "cpu_ms" -> cpu, "events" -> prog.map(_.numInputRows).sum,
      "orders" -> n, "wrong" -> wrong, "layers" -> layers(prog),
      "spans" -> spans(s"$tag/p2", prog, ids).map(_.toJson))
  }
}
