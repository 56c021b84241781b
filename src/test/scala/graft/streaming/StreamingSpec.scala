package graft.streaming

import graft.{EmptyFlow, SparkSpec}
import graft.operators.{Mixer, Transformer}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("stream pipeline: source -> watermark -> windowed agg -> memory sink") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Double)]
    val df = in.toDF().toDF("ts", "value")

    val pipeline = graft.core.Composite(Seq(
      StreamSource.of("ev", df),
      Watermark("ev", "ts", "1 hour"),
      WindowedAgg.tumbling("ev", "ts", "10 minutes",
        Seq(count(lit(1)).as("n"), sum(col("value")).as("s"))),
      Transformer("ev")(_.select(col("window.start").as("w"), col("n"), col("s"))),
      StreamSink.memory("ev", "win_out", outputMode = "complete").copy(sync = true)))

    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData(
      (ts("2024-01-01 10:01:00"), 1.0), (ts("2024-01-01 10:04:00"), 2.0),
      (ts("2024-01-01 10:15:00"), 5.0))
    val out = pipeline(EmptyFlow)
    assert(out.isEmpty) // sink consumed the stream

    val rows = spark.table("win_out").orderBy("w").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("n")).toSeq == Seq(2L, 1L))
    assert(rows.map(_.getAs[Double]("s")).toSeq == Seq(3.0, 5.0))
  }

  test("streaming session windows: gap-based grouping matches the batch sessionize cuts") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: two events 5 min apart (one session), then a 40-min gap
    // (new session); user 2: a single event
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, 1.0), (ts("2024-01-01 10:05:00"), 1L, 2.0),
      (ts("2024-01-01 10:45:00"), 1L, 4.0),
      (ts("2024-01-01 10:10:00"), 2L, 8.0))
    graft.core.Composite(Seq(
      StreamSource.of("sess", in.toDF().toDF("ts", "user_id", "value")),
      Watermark("sess", "ts", "1 hour"),
      WindowedAgg.session("sess", "ts", "30 minutes",
        Seq(count(lit(1)).as("n"), sum(col("value")).as("s")), Seq(col("user_id"))),
      Transformer("sess")(_.select(
        col("user_id"), col("session_window.start").as("w"), col("n"), col("s"))),
      StreamSink.memory("sess", "sess_out", outputMode = "complete").copy(sync = true)))(EmptyFlow)
    val rows = spark.table("sess_out").orderBy("user_id", "w")
      .select("user_id", "n", "s").as[(Long, Long, Double)].collect().toSeq
    assert(rows == Seq((1L, 2L, 3.0), (1L, 1L, 4.0), (2L, 1L, 8.0)))
  }

  test("mixer unions streaming sources like batch ones") {
    implicit val sqlCtx = spark.sqlContext
    val a = MemoryStream[Int]; val b = MemoryStream[Int]
    a.addData(1, 2); b.addData(3)
    val flow = graft.core.Composite(Seq(
      StreamSource.of("a", a.toDF()),
      StreamSource.of("b", b.toDF()),
      Mixer(Seq("a", "b"), "m"),
      StreamSink.memory("m", "mix_out").copy(sync = true)))(EmptyFlow)
    assert(flow.isEmpty)
    assert(spark.table("mix_out").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("no_wait mix: tick + finite stream stops on its own when the finite side drains") {
    // Reference semantics (lib/gen_mix.ex:377-387, test/mixer_test.exs:
    // 126-147): mixing an infinite tick stream with a finite stream,
    // the mixed output halts as soon as the finite input halts.
    implicit val sqlCtx = spark.sqlContext
    val finite = MemoryStream[Long]
    finite.addData(1L, 2L, 3L)
    val ticks = spark.readStream.format("rate")
      .option("rowsPerSecond", "500").load()
      .select((col("value") + 1000000L).as("value")) // disjoint from finite ids
    val flow = graft.core.Composite(Seq(
      StreamSource.of("ticks", ticks),
      StreamSource.of("fin", finite.toDF().toDF("value")),
      graft.operators.Mixer(Seq("ticks", "fin"), "mixed", noWait = true),
      StreamSink.memory("mixed", "nowait_out")))(graft.EmptyFlow)
    assert(flow.isEmpty)
    assert(StreamSink.active.isEmpty) // the query stopped itself, no manual stop
    val out = spark.table("nowait_out").as[Long].collect().toSet
    assert(Set(1L, 2L, 3L).subsetOf(out)) // the finite side was fully mixed
  }

  test("live manipulation: replace a stage, restart from checkpoint, no reprocessing") {
    // reference: lib/composite/manipulations.ex:10-74 — here the
    // documented streaming contract: stop -> Composite.replace (value
    // level) -> re-run; the checkpoint carries source offsets across
    // incarnations so already-committed input is NOT reprocessed.
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("graft_restart_in_").toString
    val out = Files.createTempDirectory("graft_restart_out_").toString
    val ckpt = Files.createTempDirectory("graft_restart_ckpt_").toString
    def mult(m: Int) = Transformer("nums")(
      _.select((col("value").cast("int") * m).as("v")))
    def sink = StreamSink("nums", _.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), sync = true)

    Files.writeString(Path.of(dir, "f1.txt"), "1\n2\n")
    val v1 = graft.core.Composite(Seq(StreamSource.text("nums", dir), mult(1), sink))
    assert(v1(graft.EmptyFlow).isEmpty)
    assert(spark.read.parquet(out).as[Int].collect().sorted.toSeq == Seq(1, 2))

    Files.writeString(Path.of(dir, "f2.txt"), "3\n4\n")
    val flow2 = Restart.replaceAndRestart(v1, graft.EmptyFlow)(_.replace(1, 1, mult(10)))
    assert(flow2.isEmpty)
    // f1 rows kept their v1 values (not reprocessed as 10/20); only f2
    // flowed through the replaced stage.
    assert(spark.read.parquet(out).as[Int].collect().sorted.toSeq == Seq(1, 2, 30, 40))
  }

  test("restart is scoped: an unrelated pipeline keeps running across replaceAndRestart") {
    import java.nio.file.{Files, Path}
    implicit val sqlCtx = spark.sqlContext
    // Unrelated async pipeline B on its own stream name.
    val bIn = MemoryStream[Int]
    bIn.addData(7)
    val bFlow = graft.core.Composite(Seq(
      StreamSource.of("other", bIn.toDF()),
      StreamSink.memory("other", "scoped_b_out")))(EmptyFlow)
    assert(bFlow.isEmpty && StreamSink.active.nonEmpty)

    // Pipeline A: the checkpointed file pipeline being rewired.
    val dir = Files.createTempDirectory("graft_scope_in_").toString
    val out = Files.createTempDirectory("graft_scope_out_").toString
    val ckpt = Files.createTempDirectory("graft_scope_ckpt_").toString
    def sink = StreamSink("nums", _.writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()), sync = true)
    Files.writeString(Path.of(dir, "f1.txt"), "1\n")
    val a = graft.core.Composite(Seq(
      StreamSource.text("nums", dir),
      Transformer("nums")(_.select(col("value").cast("int").as("v"))),
      sink))
    assert(a(EmptyFlow).isEmpty)

    Files.writeString(Path.of(dir, "f2.txt"), "2\n")
    Restart.replaceAndRestart(a, EmptyFlow)(identity)
    // B's query survived the restart of A (stop was scoped to A's sink).
    assert(StreamSink.active.nonEmpty)
    assert(spark.read.parquet(out).as[Int].collect().sorted.toSeq == Seq(1, 2))
    StreamSink.stopAll()
  }

  test("no_wait with only finite inputs on a default trigger stops via the standing-drain path") {
    // With no rate side there is no second micro-batch to confirm the
    // drain — the caught-up report standing for confirmMs with no
    // further batch must stop the query (not the 30 s timeout error).
    implicit val sqlCtx = spark.sqlContext
    val x = MemoryStream[Int]; val y = MemoryStream[Int]
    x.addData(1, 2); y.addData(3)
    val t0 = System.currentTimeMillis()
    val flow = graft.core.Composite(Seq(
      StreamSource.of("x", x.toDF()),
      StreamSource.of("y", y.toDF()),
      graft.operators.Mixer(Seq("x", "y"), "fmix", noWait = true),
      StreamSink.memory("fmix", "fmix_out")))(EmptyFlow)
    assert(flow.isEmpty)
    assert(System.currentTimeMillis() - t0 < 25000L) // stopped well before the timeout
    assert(spark.table("fmix_out").as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("no_wait on an all-finite AvailableNow query: normal self-termination counts as drained") {
    // awaitAnyInputDrained must not mistake normal completion for the
    // all-inputs-unbounded timeout error.
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("graft_nw_in_").toString
    val out = Files.createTempDirectory("graft_nw_out_").toString
    val ckpt = Files.createTempDirectory("graft_nw_ckpt_").toString
    Files.writeString(Path.of(dir, "f1.txt"), "5\n6\n")
    val flow = graft.core.Composite(Seq(
      StreamSource.text("nums", dir),
      Transformer("nums")(_.select(col("value").cast("int").as("v"))),
      StreamSink("nums", _.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()),
        noWait = true)))(graft.EmptyFlow) // returns without throwing
    assert(flow.isEmpty)
    assert(spark.read.parquet(out).as[Int].collect().sorted.toSeq == Seq(5, 6))
  }

  test("csv stream source reads directory drops with the declared schema") {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_csv_in_").toString
    Files.writeString(Path.of(dir, "a.csv"), "id,qty\n1,10\n2,20\n")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("qty", IntegerType)))
    val flow = graft.core.Composite(Seq(
      StreamSource.csv("rows", dir, schema),
      StreamSink.memory("rows", "csv_out").copy(sync = true)))(EmptyFlow)
    assert(flow.isEmpty)
    assert(spark.table("csv_out").as[(Long, Int)].collect().sorted.toSeq ==
      Seq((1L, 10), (2L, 20)))
  }

  test("streaming Loop: feedback fixpoint over the queue dir matches the batch Loop") {
    // the streaming twin of q_loop's fixpoint (reference semantics:
    // lib/loop.ex:4-67, exercised as test/loop_test.exs:41-57): seed
    // values cycle through v*2 while <= 100, accumulating every
    // generation; the queue going idle is the halt
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_sloop_").toString
    val seed = Seq(3L, 7L, 60L).toDF("v")
    val out = StreamingLoop.run(spark, seed,
      df => df.select((col("v") * 2).as("v")).where(col("v") <= 100),
      dir)
      .as[Long].collect().toSeq.sorted
    // batch-Loop oracle: seeds plus their doubling chains while <= 100
    val oracle = Seq(3L, 6L, 12L, 24L, 48L, 96L, 7L, 14L, 28L, 56L, 60L).sorted
    assert(out == oracle)
    // the (out-append, re-enqueue) pair rides the commit-marker
    // protocol: every processed batchId left a marker, so a replay
    // after crash/restart skips instead of amplifying around the cycle
    val markers = new java.io.File(s"$dir/_commits").list()
    assert(markers != null && markers.exists(_.matches("loop-batch-\\d+\\.committed")))
  }

  test("streaming Loop: each micro-batch releases what it persisted") {
    import java.nio.file.Files
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val dir = Files.createTempDirectory("graft_sloop_release_").toString
    val out = StreamingLoop.run(spark, Seq(3L, 7L, 60L).toDF("v"),
      df => df.select((col("v") * 2).as("v")).where(col("v") <= 100), dir)
    assert(out.count() == 11L)
    // one batch per doubling generation, each persisting two frames
    assert(new java.io.File(s"$dir/_commits").list().length > 1)
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs still persisted after the loop: $left")
  }

  test("streaming Loop: kill-and-restart replay deduplicated by the commit markers") {
    // the exactly-once contract under failure (reference: a Loop
    // restart must not re-emit already-delivered events): crash
    // between the foreachBatch side effect and the engine's offset
    // commit -> the batchId is REPLAYED on restart. Without the
    // marker guard the replay re-appends to out AND re-feeds the
    // queue, amplifying around the cycle; with it the accumulated set
    // still equals the batch Loop fixpoint.
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_sloop_replay_").toString
    val seed = Seq(3L, 7L, 60L).toDF("v")
    val body = (df: org.apache.spark.sql.DataFrame) =>
      df.select((col("v") * 2).as("v")).where(col("v") <= 100)
    val oracle = Seq(3L, 6L, 12L, 24L, 48L, 96L, 7L, 14L, 28L, 56L, 60L).sorted
    val first = StreamingLoop.run(spark, seed, body, dir)
      .as[Long].collect().toSeq.sorted
    assert(first == oracle)
    // simulate the crash: drop the NEWEST engine commit so the restart
    // replays that batchId against our already-written side effects
    val commits = new java.io.File(s"$dir/_checkpoint/commits")
      .listFiles().filter(_.getName.forall(_.isDigit))
    assert(commits.nonEmpty)
    val latest = commits.maxBy(_.getName.toLong)
    // delete the ChecksumFs .crc sibling too, or the restarted query's
    // commit rewrite fails on the stale checksum rename target
    val crc = new java.io.File(latest.getParentFile, s".${latest.getName}.crc")
    if (crc.exists()) assert(crc.delete())
    assert(latest.delete())
    val second = StreamingLoop.run(spark, seed, body, dir, resume = true)
      .as[Long].collect().toSeq.sorted
    assert(second == oracle)
  }

  test("backpressure passthrough: maxFilesPerTrigger throttles the directory source") {
    // Strom's per-source buffer: knob (lib/gen_mix.ex:8) -> the
    // maxFilesPerTrigger option: three file drops admitted one per
    // micro-batch instead of all in one gulp
    import java.nio.file.{Files, Path}
    val dir = Files.createTempDirectory("graft_bp_in_").toString
    (1 to 3).foreach(i =>
      Files.writeString(Path.of(dir, s"f$i.txt"), s"line$i\n"))
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val rows = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = StreamSource.text("bp", dir, Map("maxFilesPerTrigger" -> "1"))
      .origin(spark)
      .writeStream
      .option("checkpointLocation",
        Files.createTempDirectory("graft_bp_ckpt_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet(); rows.addAndGet(b.count().toInt); ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    assert(rows.get() == 3)
    assert(batches.get() >= 3, s"expected >= 3 throttled batches, got ${batches.get()}")
  }

  test("streaming JS drift: per micro-batch divergence against a static baseline") {
    // the corpus-drift monitor an ingestion pipeline runs: each
    // micro-batch's token distribution scored against the frozen
    // baseline via jsDivergence inside foreachBatch — batch operators
    // compose onto streams with no new code
    implicit val sqlCtx = spark.sqlContext
    val baseline = Seq.fill(20)("alpha").toDF("w")
    val in = MemoryStream[String]
    val scores = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val q = in.toDF().toDF("w").writeStream
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft_jsd_ckpt_").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          scores.add(graft.operators.Quality
            .jsDivergence(baseline, batch, col("w"))
            .head().getAs[Double]("js"))
        }
        ()
      }.start()
    in.addData(Seq.fill(10)("alpha"): _*) // same distribution -> 0
    q.processAllAvailable()
    in.addData(Seq.fill(10)("omega"): _*) // disjoint -> ~ln 2
    q.processAllAvailable()
    q.stop()
    val out = scores.toArray(Array.empty[java.lang.Double]).map(_.doubleValue)
    assert(out.length == 2)
    assert(out.head == 0.0)
    assert(math.abs(out.last - math.log(2.0)) < 1e-5)
  }

  test("stateless corpus operators apply to streams unchanged (sampling + redaction)") {
    // hashKeep/redactPii are pure projections, so the same Transformer
    // runs on a streaming flow with no code change — the Flow carrying
    // streaming DataFrames transparently is the core design claim.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "mail a@b.co now"), (2L, "clean"), (3L, "call 555-123-4567"))
    val flow = graft.core.Composite(Seq(
      StreamSource.of("docs", in.toDF().toDF("id", "text")),
      Transformer("docs")(df => df
        .where(graft.operators.TrainingData.hashKeep(col("id"), 1.0))
        .select(col("id"), graft.operators.TrainingData.redactPii(col("text")).as("text"))),
      StreamSink.memory("docs", "stateless_out").copy(sync = true)))(EmptyFlow)
    assert(flow.isEmpty)
    val out = spark.table("stateless_out").as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "mail <EMAIL> now", 2L -> "clean", 3L -> "call <PHONE>"))
  }

  test("parcels CEP: SLA precedence, completeness, and out-of-order shipments") {
    implicit val sqlCtx = spark.sqlContext
    import ParcelsCep._
    val day = 86400000000L
    val in = MemoryStream[OrderEvent]

    val statuses = ParcelsCep(in.toDS(), slaDays = 7)
    val q = statuses.writeStream.format("memory").queryName("cep_out")
      .outputMode("append").start()

    // order 1: 2 parcels, both in time -> ALL_PARCELS_SHIPPED
    // order 2: shipment 10 days late (before completeness!) -> THRESHOLD_EXCEEDED
    // order 3: shipment arrives BEFORE its order (force_order path), in time
    // order 4: completes in time, LATE EXTRA shipment afterwards -> still ALL
    in.addData(
      OrderEvent(1, "ORDER", 0L, 2),
      OrderEvent(1, "SHIPMENT", 1 * day, 0),
      OrderEvent(3, "SHIPMENT", 2 * day, 0), // early shipment, no order yet
      OrderEvent(2, "ORDER", 0L, 5),
      OrderEvent(2, "SHIPMENT", 10 * day, 0),
      OrderEvent(4, "ORDER", 0L, 1),
      OrderEvent(4, "SHIPMENT", 1 * day, 0))
    q.processAllAvailable()
    in.addData(
      OrderEvent(1, "SHIPMENT", 2 * day, 0),
      OrderEvent(3, "ORDER", 1 * day, 1),
      OrderEvent(4, "SHIPMENT", 20 * day, 0)) // late extra after completion
    q.processAllAvailable()
    q.stop()

    val out = spark.table("cep_out").as[OrderStatus].collect()
      .map(s => s.orderKey -> s.status).toMap
    assert(out == Map(
      1L -> "ALL_PARCELS_SHIPPED",
      2L -> "THRESHOLD_EXCEEDED",
      3L -> "ALL_PARCELS_SHIPPED",
      4L -> "ALL_PARCELS_SHIPPED"))
  }

  test("observed data-quality checks surface per micro-batch in query progress") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Quality
    val in = MemoryStream[(Long, Double)]
    val observed = Quality.observed(
      in.toDF().toDF("id", "v"), "dq",
      Seq(Quality.inRange("v", 0.0, 10.0), Quality.notNull("id")))
    val q = observed.writeStream.format("memory").queryName("dq_out")
      .outputMode("append").start()
    in.addData((1L, 5.0), (2L, 99.0), (3L, -1.0))
    q.processAllAvailable()
    val metrics = q.lastProgress.observedMetrics.get("dq")
    q.stop()
    assert(metrics != null)
    assert(metrics.getAs[Long]("in_range(v)") == 2L) // 99.0 and -1.0
    assert(metrics.getAs[Long]("not_null(id)") == 0L)
  }

  test("streaming funnel advances across micro-batches and never re-anchors on late data") {
    implicit val sqlCtx = spark.sqlContext
    import StreamFunnel._
    val in = MemoryStream[FunnelEvent]
    val q = StreamFunnel(in.toDS(), Seq("a", "b", "c"))
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode("append").start()

    // batch 1: user 1 does a@10 then b@20 (out of arrival order -> the
    // in-batch sort fixes it); user 2 does only b (no anchor).
    in.addData(FunnelEvent(1, 20, "b"), FunnelEvent(1, 10, "a"), FunnelEvent(2, 5, "b"))
    q.processAllAvailable()
    // batch 2: user 1 completes with c@30; the a@1 would re-anchor a
    // batch run but MUST be ignored here; user 2 anchors at a@7.
    in.addData(FunnelEvent(1, 30, "c"), FunnelEvent(1, 1, "a"), FunnelEvent(2, 7, "a"))
    q.processAllAvailable()
    q.stop()

    val rows = spark.table("funnel_out").as[FunnelProgress].collect()
    // progress log: user 1 advanced in both batches, user 2 once
    assert(rows.filter(_.user_id == 1).map(r => (r.steps_done, r.t0_us, r.t_end_us)).toSet ==
      Set((2, 10L, 20L), (3, 10L, 30L)))
    assert(rows.filter(_.user_id == 2).map(r => (r.steps_done, r.t0_us, r.t_end_us)).toSeq ==
      Seq((1, 7L, 7L)))
  }

  test("late-arrival fixture: the streaming funnel's no-re-anchor divergence from the batch funnel, pinned exactly") {
    implicit val sqlCtx = spark.sqlContext
    import StreamFunnel._
    val in = MemoryStream[FunnelEvent]
    val q = StreamFunnel(in.toDS(), Seq("a", "b", "c"))
      .writeStream.format("memory").queryName("funnel_late")
      .outputMode("append").start()
    // batch 1: user 1 matches a@10, b@20; user 3 sees b@20, c@30 but has
    // no anchor yet, so they pass through unmatched (and unremembered).
    in.addData(FunnelEvent(1, 10, "a"), FunnelEvent(1, 20, "b"),
      FunnelEvent(3, 20, "b"), FunnelEvent(3, 30, "c"))
    q.processAllAvailable()
    // batch 2: LATE anchors arrive — a@1 (user 1), a@5 (user 3).
    in.addData(FunnelEvent(1, 30, "c"), FunnelEvent(1, 1, "a"), FunnelEvent(3, 5, "a"))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("funnel_late").as[FunnelProgress].collect()
      .groupBy(_.user_id).view.mapValues { ps =>
        val m = ps.maxBy(_.steps_done); (m.steps_done, m.t0_us, m.t_end_us)
      }.toMap
    // the batch funnel re-runs greedy over the SAME complete event log
    val all = Seq((1L, 10L, "a"), (1L, 20L, "b"), (3L, 20L, "b"), (3L, 30L, "c"),
      (1L, 30L, "c"), (1L, 1L, "a"), (3L, 5L, "a"))
    val batchDf = all.toDF("user_id", "ts_us", "et")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("et"))
    val batch = graft.operators.Analytics
      .funnel(batchDf, col("user_id"), col("ts"), col("et"), Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // The exact behavioral delta of bounded streaming state:
    // user 1 — batch re-anchors at the late a@1; streaming keeps its
    // original anchor (same steps, different t0).
    assert(batch(1L) == ((3, 1L, 30L)))
    assert(streamed(1L) == ((3, 10L, 30L)))
    // user 3 — batch completes all 3 steps from the late anchor;
    // streaming CANNOT replay the b/c it already passed through
    // pre-anchor, so it sits at step 1 forever.
    assert(batch(3L) == ((3, 5L, 30L)))
    assert(streamed(3L) == ((1, 5L, 5L)))
  }

  test("streaming funnel timeout evicts idle users without emitting; progress sets the next timeout") {
    import StreamFunnel._
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val steps = Array("a", "b")
    val timedOut = TestGroupState.create[FunnelState](
      Optional.of(FunnelState(1, 5L, 5L)), GroupStateTimeout.ProcessingTimeTimeout,
      0L, Optional.empty[Long], hasTimedOut = true)
    assert(StreamFunnel.process(1L, Iterator.empty, timedOut, steps, 1000L).isEmpty)
    assert(timedOut.isRemoved)
    val st = TestGroupState.create[FunnelState](
      Optional.empty[FunnelState], GroupStateTimeout.ProcessingTimeTimeout,
      100L, Optional.empty[Long], hasTimedOut = false)
    val out = StreamFunnel.process(2L, Iterator(FunnelEvent(2L, 10L, "a")), st, steps, 1000L)
    assert(out.toSeq.map(_.steps_done) == Seq(1))
    assert(st.get == FunnelState(1, 10L, 10L))
    assert(st.getTimeoutTimestampMs.isPresent) // idle eviction armed
  }

  test("streaming heavy hitters: bounded sketch state, MG guarantee per shard across batches") {
    implicit val sqlCtx = spark.sqlContext
    import StreamHeavyHitters._
    val capacity = 2
    val in = MemoryStream[String]
    val q = StreamHeavyHitters(in.toDS(), capacity = capacity, shards = 2)
      .writeStream.format("memory").queryName("hh_out")
      .outputMode("append").start()
    // skewed stream: "top" dominates, "mid" is second, singletons churn
    in.addData(Seq.fill(30)("top") ++ Seq.fill(8)("mid") ++ Seq("x1", "x2", "x3"))
    q.processAllAvailable()
    in.addData(Seq.fill(20)("top") ++ Seq.fill(7)("mid") ++ Seq("x4", "x5"))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("hh_out").as[HHRow].collect()
    // bounded state: every emission carries <= capacity counters
    rows.groupBy(r => (r.shard, r.n_shard)).foreach { case (_, g) =>
      assert(g.length <= capacity)
    }
    // latest emission per shard = the current sketch
    val latest = rows.groupBy(_.shard).map { case (_, g) =>
      val n = g.map(_.n_shard).max
      g.filter(_.n_shard == n)
    }.toSeq.flatten
    val est = latest.map(r => r.item -> ((r.count, r.n_shard))).toMap
    // exact per-shard truth: keys co-shard by hashCode % 2
    def shardOf(k: String) = math.floorMod(k.hashCode, 2)
    val trueCounts = Map("top" -> 50L, "mid" -> 15L) ++
      (1 to 5).map(i => s"x$i" -> 1L).toMap
    val perShardN = trueCounts.groupBy { case (k, _) => shardOf(k) }
      .view.mapValues(_.values.sum).toMap
    trueCounts.foreach { case (k, freq) =>
      val bound = perShardN(shardOf(k)) / (capacity + 1)
      if (freq > bound) { // MG: must be present, undercount <= bound
        assert(est.contains(k), s"heavy item $k missing")
        val (cnt, _) = est(k)
        assert(cnt <= freq && cnt >= freq - bound, s"$k count $cnt outside [${freq - bound}, $freq]")
      }
    }
  }

  test("streaming heavy hitters process(): empty batch emits nothing and keeps state") {
    import StreamHeavyHitters._
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val st = TestGroupState.create[HHState](
      Optional.of(HHState(Map("a" -> 3L), 3L)), GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Long], hasTimedOut = false)
    assert(StreamHeavyHitters.process(0, Iterator.empty, st, 2).isEmpty)
    assert(!st.isUpdated && !st.isRemoved)
    val out = StreamHeavyHitters.process(0, Iterator("a", "b", "c"), st, 2).toSeq
    // a:3 +a = 4; +b -> {a4,b1}; +c over capacity -> cut = 1 -> {a3}
    assert(out == Seq(HHRow(0, "a", 3L, 6L)))
    assert(st.get == HHState(Map("a" -> 3L), 6L))
  }

  test("idempotentForeachBatch skips replayed batch ids, runs fresh ones") {
    implicit val sqlCtx = spark.sqlContext
    val commits = java.nio.file.Files.createTempDirectory("graft_commits_").toString
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val in = MemoryStream[Int]
    in.addData(1, 2)
    graft.core.Composite(Seq(
      StreamSource.of("xs", in.toDF()),
      StreamSink.idempotentForeachBatch("xs", commits) { (_, id) => seen.add(id); () }
        .copy(sync = true)))(EmptyFlow)
    val firstRun = seen.size()
    assert(firstRun >= 1)
    // simulate a replay of batch 0 (crash after commit marker): the
    // wrapper must skip it — the marker is already on disk
    val sink2 = StreamSink.idempotentForeachBatch("xs", commits) { (_, id) => seen.add(id); () }
    val in2 = MemoryStream[Int]
    in2.addData(3)
    // fresh query, same commitDir; its batch 0 marker EXISTS already,
    // so the side effect must NOT fire again for id 0
    graft.core.Composite(Seq(
      StreamSource.of("xs", in2.toDF()),
      sink2.copy(sync = true)))(EmptyFlow)
    assert(seen.size() == firstRun) // replayed id skipped, nothing new ran
  }

  test("streaming SCD2 sink folds CDC batches into a versioned history, replay-safe") {
    implicit val sqlCtx = spark.sqlContext
    val table = java.nio.file.Files.createTempDirectory("graft_scd2_").toString
    val commits = java.nio.file.Files.createTempDirectory("graft_scd2_c_").toString
    val sink = StreamSink.scd2("dim", table, commits, Seq("k"), Seq("attr"))
    val in = MemoryStream[(Long, String)]
    val q = sink.build(in.toDF().toDF("k", "attr")).start()
    in.addData(1L -> "a", 2L -> "b"); q.processAllAvailable() // batch 0
    in.addData(1L -> "a2", 3L -> "c"); q.processAllAvailable() // batch 1
    q.stop()
    def snap() = StreamSink.readLatest(spark, table).get
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSet
    val hist = snap()
    assert(hist == Set(
      (1L, "a", 0L, Some(1L)),  // closed when the update arrived in batch 1
      (1L, "a2", 1L, None),     // the update, open
      (2L, "b", 0L, None),      // untouched by batch 1: partial feed keeps it open
      (3L, "c", 1L, None)))     // batch-1 insert
    // a NEW query incarnation replays batch ids from 0 (same commitDir
    // = same logical stream): the committed markers make it a no-op —
    // the poisoned replay data must NOT reach the table
    val in2 = MemoryStream[(Long, String)]
    val q2 = sink.build(in2.toDF().toDF("k", "attr")).start()
    in2.addData(1L -> "POISON"); q2.processAllAvailable() // replayed batch 0
    q2.stop()
    assert(snap() == hist)
    graft.core.CacheRegistry.unpersistAll()
  }

  test("streaming funnel over one batch equals the batch funnel exactly") {
    implicit val sqlCtx = spark.sqlContext
    import StreamFunnel._
    // deterministic pseudo-random event log: 40 users x 25 events
    val events = for (u <- 0L until 40L; i <- 0 until 25) yield {
      val h = (u * 31 + i * 17) % 97
      FunnelEvent(u, (h * 13 + i) % 200, Seq("a", "b", "c")((h % 3).toInt))
    }
    val steps = Seq("a", "b", "c")
    val in = MemoryStream[FunnelEvent]
    in.addData(events)
    val q = StreamFunnel(in.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_parity")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    // latest progress row per user == the batch answer for users who
    // advanced at least one step (streaming emits no zero-step rows)
    val streamed = spark.table("funnel_parity").as[FunnelProgress].collect()
      .groupBy(_.user_id).view.mapValues(_.maxBy(_.steps_done)).toMap
      .map { case (u, p) => u -> ((p.steps_done, p.t0_us, p.t_end_us)) }
    val batchDf = events.toDF("user_id", "ts_us", "et")
      .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"), col("et"))
    val batch = graft.operators.Analytics
      .funnel(batchDf, col("user_id"), col("ts"), col("et"), steps)
      .collect().filter(_.getInt(1) > 0)
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming funnel maxSpan matches the batch anchor-window rule") {
    import StreamFunnel._
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    val st = TestGroupState.create[FunnelState](
      Optional.empty[FunnelState], GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Long], hasTimedOut = false)
    // a@10; b@25 outside a 10us window; b@15 later batch inside it... but
    // state already saw 25 fail: the 15 arrives late and STILL advances
    // (15 > tLast=10 and within span) — matching batch greedy on what
    // this operator has actually seen
    val out1 = StreamFunnel.process(1L,
      Iterator(FunnelEvent(1L, 10L, "a"), FunnelEvent(1L, 25L, "b")),
      st, Array("a", "b"), 0L, maxSpanUs = 10L)
    assert(out1.toSeq.map(_.steps_done) == Seq(1))
    val st2 = TestGroupState.create[FunnelState](
      Optional.of(st.get), GroupStateTimeout.NoTimeout,
      0L, Optional.empty[Long], hasTimedOut = false)
    val out2 = StreamFunnel.process(1L, Iterator(FunnelEvent(1L, 15L, "b")),
      st2, Array("a", "b"), 0L, maxSpanUs = 10L)
    assert(out2.toSeq.map(r => (r.steps_done, r.t_end_us)) == Seq((2, 15L)))
  }

  test("streaming words-count over a file stream matches the batch counts " +
    "(reference words_count example, unbounded form)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wc_stream_")
    java.nio.file.Files.writeString(dir.resolve("a.txt"), "hello world\nhello spark\n")
    java.nio.file.Files.writeString(dir.resolve("b.txt"), "world of streams\n")

    graft.core.Composite(Seq(
      StreamSource.text("lines", dir.toString),
      Transformer("lines")(df =>
        df.select(explode(split(lower(col("value")), "\\W+")).as("word"))
          .where(length(col("word")) > 0)
          .groupBy("word").count()),
      StreamSink.memory("lines", "wc_stream_out", outputMode = "complete")
        .copy(sync = true)))(graft.EmptyFlow)

    val got = spark.table("wc_stream_out")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("hello" -> 2L, "world" -> 2L, "spark" -> 1L, "of" -> 1L, "streams" -> 1L))
  }

  test("streaming raw-crawl pipeline (CrawlIngest): parquet-indexed drops across micro-batches match the batch twin") {
    // The PRODUCTION composition (the driver-side-set harness this
    // test used to carry was the prototype): readStream(binaryFile) →
    // warcRecords → http envelope split (bare-html payloads fall back
    // raw) → charset chain → html_text → url_normalize → foreachBatch
    // dropping url-exact AND fingerprint-exact/band-near duplicates
    // against the PARQUET standing index. All state lives in the two
    // parquet dirs — bounded by distinct documents, not feed length,
    // and not driver memory — and a replayed micro-batch rewrites its
    // own partition instead of double-appending or self-deduping.
    import graft.sources.Warc
    import graft.streaming.CrawlIngest
    val land = java.nio.file.Files.createTempDirectory("graft_warc_stream_")
    // state dirs OUTSIDE the landing dir: the binaryFile source lists
    // the landing tree, and partitioned parquet under it would collide
    val state = java.nio.file.Files.createTempDirectory("graft_warc_state_")
    val corpusDir = state.resolve("corpus").toString
    val indexDir = state.resolve("index").toString
    def drop(name: String, recs: Seq[(String, Array[Byte])]): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach { case (uri, payload) =>
        out.write(Warc.warcEncode(1, uri, payload))
      }
      // atomic move in: file sources must never list a half-written file
      val tmp = java.nio.file.Files.createTempFile("graft_warc_tmp_", ".part")
      java.nio.file.Files.write(tmp, out.toByteArray)
      java.nio.file.Files.move(tmp, land.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def page(body: String) = s"<html><body><p>$body</p></body></html>"
    def bare(body: String) = page(body).getBytes("UTF-8")
    // a FULL HTTP envelope: gzip-coded iso-8859-1 body — the decode
    // chain must surface the é, and the bare payloads must fall back
    def http(body: String) = Warc.httpEncode(200,
      "text/html; charset=iso-8859-1", page(body).getBytes("ISO-8859-1"),
      "gzip", chunked = true)
    val alphaText = "alpha document about parquet shuffles"
    val drop1 = Seq(
      "HTTP://WWW.A.example/d1?utm_x=1&b=2" -> bare(alphaText),
      "http://b.example/d2" -> http("bêta document counting broadcast joins"),
      "http://b.example/d2?" -> bare("second body never kept")) // url dup IN drop
    val drop2 = Seq(
      "http://www.a.example/d1?b=2" -> bare("day-2 recrawl of first"), // url dup ACROSS drops
      "http://c.example/d3" -> bare("gamma document entirely fresh content"),
      "http://c.example/d4" -> bare(alphaText)) // text dup of d1 -> fingerprint drop
    drop(s"drop1.warc", drop1)

    val q = CrawlIngest.start(spark, land.toString, corpusDir, indexDir,
      java.nio.file.Files.createTempDirectory("graft_warc_ck_").toString)
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(corpusDir).select("url").as[String]
        .collect().sorted.toSeq ==
        Seq("http://a.example/d1?b=2", "http://b.example/d2"))
      drop(s"drop2.warc", drop2)
      q.processAllAvailable()
    } finally q.stop()

    val corpus = spark.read.parquet(corpusDir)
      // partition columns read back as int — cast to the written type
      .selectExpr("url", "body", "cast(batch_id as long) as batch_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    // d2? (url dup), d1-recrawl (url dup vs index), d4 (fingerprint
    // dup vs index) all dropped; the envelope body decoded per header
    assert(corpus.map(_._1).sorted.toSeq == Seq(
      "http://a.example/d1?b=2", "http://b.example/d2", "http://c.example/d3"))
    assert(corpus.find(_._1 == "http://b.example/d2").get._2 ==
      "bêta document counting broadcast joins")
    // state bound: 6 records flowed; the index holds 3 DISTINCT docs
    val idx = spark.read.parquet(indexDir)
    assert(idx.select("id").distinct().count() == 3)

    // batch twin over the SAME files, the same record→doc transform,
    // dedup folded by hand in (path, record_idx) order: first per
    // canonical url, then first per exact body text (the fingerprint)
    val batchAll = CrawlIngest.recordsToDocs(Warc.warcRecords(
      graft.sources.Source.binaryFiles("w", land.toString, "*.warc")(
        graft.EmptyFlow)("w"), "path", "content"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val seenUrl = scala.collection.mutable.Set[String]()
    val seenBody = scala.collection.mutable.Set[String]()
    val twin = batchAll.flatMap { case (_, _, url, body) =>
      if (seenUrl.add(url) && seenBody.add(body)) Some(url -> body) else None
    }
    assert(corpus.map(t => (t._1, t._2)).toMap == twin.toMap)

    // replay idempotency: re-running drop2's micro-batch (same
    // batch_id) rewrites its own partition identically — no double
    // append, and no self-dedup data loss
    val replayId = corpus.find(_._1 == "http://c.example/d3").get._3
    val batch2 = CrawlIngest.recordsToDocs(Warc.warcRecords(
      graft.sources.Source.binaryFiles("w2", land.toString, "drop2.warc")(
        graft.EmptyFlow)("w2"), "path", "content"))
    CrawlIngest.ingestBatch(batch2, replayId, corpusDir, indexDir, 3, 64, 16)
    val replayed = spark.read.parquet(corpusDir)
      .select("url").as[String].collect().sorted.toSeq
    assert(replayed == Seq("http://a.example/d1?b=2",
      "http://b.example/d2", "http://c.example/d3"))
  }

  test("CrawlIngest hardening: undecodable envelopes reject, empty batches write nothing, intra-batch text dups drop") {
    import graft.sources.Warc
    import graft.streaming.CrawlIngest
    val land = java.nio.file.Files.createTempDirectory("graft_warc_hard_")
    val state = java.nio.file.Files.createTempDirectory("graft_warc_hstate_")
    val corpusDir = state.resolve("corpus").toString
    val indexDir = state.resolve("index").toString
    def drop(name: String, recs: Seq[(String, Array[Byte])]): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach { case (uri, payload) =>
        out.write(Warc.warcEncode(1, uri, payload))
      }
      val tmp = java.nio.file.Files.createTempFile("graft_warc_htmp_", ".part")
      java.nio.file.Files.write(tmp, out.toByteArray)
      java.nio.file.Files.move(tmp, land.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def bare(body: String) =
      s"<html><body><p>$body</p></body></html>".getBytes("UTF-8")
    // an HTTP envelope whose body is UNDECODABLE here (brotli): the
    // old raw-bytes fallback would have pushed the whole envelope —
    // status line, headers, compressed binary — through html_text
    val brEnvelope = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n" +
      "Content-Encoding: br\r\nContent-Length: 4\r\n\r\nXXXX")
      .getBytes("ISO-8859-1")

    // batch 1: EVERY record rejects → zero survivors → the batch must
    // write NOTHING (an empty partitioned write would leave a dir with
    // only _SUCCESS whose schema inference kills the next batch)
    drop("drop1.warc", Seq("http://a.example/br0" -> brEnvelope))
    val statsDir = state.resolve("stats").toString
    val imageDir = state.resolve("images").toString
    val q = CrawlIngest.start(spark, land.toString, corpusDir, indexDir,
      java.nio.file.Files.createTempDirectory("graft_warc_hck_").toString,
      statsDir = statsDir, imageDir = imageDir)
    try {
      q.processAllAvailable()
      assert(!new java.io.File(corpusDir).exists(),
        "an all-reject batch must not create the corpus dir")
      assert(!new java.io.File(indexDir).exists())
      // ... but the DROP is observable: the stats sink recorded it
      val s1 = spark.read.parquet(statsDir)
        .select("route", "reason").as[(String, String)].collect().toSeq
      assert(s1 == Seq(("reject", "undecodable_body")))
      // batch 2: one good doc, one br envelope (reject), one SAME-TEXT
      // different-url doc (intra-batch fingerprint dup), and a REAL
      // png behind a gzip-coded image/png envelope (multimodal route)
      drop("drop2.warc", Seq(
        "http://a.example/keep" -> bare("alpha body kept once"),
        "http://a.example/br" -> brEnvelope,
        "http://b.example/dup" -> bare("alpha body kept once"),
        "http://img.example/logo.png" -> Warc.httpEncode(200, "image/png",
          graft.operators.Multimodal.imageEncode(5, 3, 200, "png"), "gzip"),
        "http://t.example/notes.txt" -> Warc.httpEncode(200,
          "text/plain; charset=utf-8",
          "plain notes <not html>".getBytes("UTF-8"), "gzip")))
      q.processAllAvailable()
    } finally q.stop()
    val corpus = spark.read.parquet(corpusDir)
      .select("url", "body").as[(String, String)].collect().toMap
    // the text/plain doc joins the corpus VERBATIM (no tag stripping)
    assert(corpus.keySet == Set("http://a.example/keep",
      "http://t.example/notes.txt"), s"got ${corpus.keySet}")
    assert(corpus("http://t.example/notes.txt") == "plain notes <not html>")
    // the index holds both surviving documents
    assert(spark.read.parquet(indexDir).select("id").distinct().count() == 2)
    // route counters across both batches: 2 html (the dup is dropped
    // AFTER routing, by the index leg), 1 text, 1 image, 2 rejects —
    // and no reject is ever silent
    val stats = spark.read.parquet(statsDir)
      .groupBy("route").agg(sum("n").as("n"))
      .as[(String, Long)].collect().toMap
    assert(stats == Map("html" -> 2L, "text" -> 1L, "image" -> 1L,
      "reject" -> 2L), s"got $stats")
    // the image leg carries the DECODED body bytes (the gzip coding
    // stripped): magic-byte sniff + raster decode both succeed
    val img = spark.read.parquet(imageDir)
      .select("url", "mime", "image").collect()
    assert(img.length == 1 && img(0).getString(1) == "image/png")
    val (iw, ih, ifmt) = graft.operators.Multimodal.imageDecode(
      img(0).getAs[Array[Byte]](2))
    assert((iw, ih, ifmt) == ((5, 3, "png")))
  }

  test("CrawlIngest frontier leg: robots filter, cross-batch url dedup, per-host politeness cap") {
    import graft.sources.Warc
    import graft.streaming.CrawlIngest
    val land = java.nio.file.Files.createTempDirectory("graft_warc_front_")
    val state = java.nio.file.Files.createTempDirectory("graft_warc_fstate_")
    def drop(name: String, recs: Seq[(String, Array[Byte])]): Unit = {
      val out = new java.io.ByteArrayOutputStream()
      recs.foreach { case (uri, p) => out.write(Warc.warcEncode(1, uri, p)) }
      val tmp = java.nio.file.Files.createTempFile("graft_warc_ftmp_", ".part")
      java.nio.file.Files.write(tmp, out.toByteArray)
      java.nio.file.Files.move(tmp, land.resolve(name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
    def page(tag: String, links: Seq[String]) =
      ("<html><body>" +
        links.map(h => s"""<a href="$h">x</a>""").mkString +
        s"<p>page $tag</p></body></html>").getBytes("UTF-8")
    val robots = Seq(("a.example", "User-agent: *\nDisallow: /g/\n"))
      .toDF("host", "robots_txt")
    // batch 1: a disallowed path, a RELATIVE href, and a target both
    // pages share (n_refs = 2)
    drop("d1.warc", Seq(
      "http://a.example/p/1" -> page("one",
        Seq("/g/1", "x/2", "http://b.example/keep")),
      "http://b.example/p/2" -> page("two",
        Seq("http://b.example/keep", "/ok/3"))))
    val frontierDir = state.resolve("frontier").toString
    val q = CrawlIngest.start(spark, land.toString,
      state.resolve("corpus").toString, state.resolve("index").toString,
      java.nio.file.Files.createTempDirectory("graft_warc_fck_").toString,
      frontierDir = frontierDir, robots = robots, perHostCap = 2)
    try {
      q.processAllAvailable()
      val f1 = spark.read.parquet(frontierDir)
        .select("url", "n_refs").as[(String, Long)].collect().toMap
      // /g/1 robots-dropped; the relative href resolved + canonicalized
      assert(f1 == Map(
        "http://a.example/p/x/2" -> 1L,
        "http://b.example/keep" -> 2L,
        "http://b.example/ok/3" -> 1L), s"got $f1")
      // batch 2: an already-discovered url drops (standing frontier),
      // and 3 fresh urls on one host hit the perHostCap = 2
      drop("d2.warc", Seq(
        "http://c.example/p/9" -> page("three",
          Seq("http://b.example/keep", "/n/1", "/n/2", "/n/3"))))
      q.processAllAvailable()
    } finally q.stop()
    val urls = spark.read.parquet(frontierDir)
      .select("url").as[String].collect().sorted.toSeq
    assert(urls == Seq(
      "http://a.example/p/x/2", "http://b.example/keep",
      "http://b.example/ok/3",
      "http://c.example/n/1", "http://c.example/n/2"), s"got $urls")
  }

  test("stream-stream interval join with watermarks (canonical streaming CEP)") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val buys = MemoryStream[(java.sql.Timestamp, Long)]

    val flow = graft.core.Composite(Seq(
      StreamSource.of("clicks", clicks.toDF().toDF("c_ts", "c_user")),
      StreamSource.of("buys", buys.toDF().toDF("b_ts", "b_user")),
      Watermark("clicks", "c_ts", "1 hour"),
      Watermark("buys", "b_ts", "1 hour")))(EmptyFlow)

    // purchases attributed to a click by the same user within 30 min
    val joined = flow("buys").join(
      flow("clicks"),
      expr("b_user = c_user AND b_ts >= c_ts AND b_ts <= c_ts + INTERVAL 30 MINUTES"))
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()

    clicks.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:00"), 2L))
    buys.addData(
      (ts("2024-01-01 10:20:00"), 1L), // within 30 min of user 1's click
      (ts("2024-01-01 11:30:00"), 2L)) // outside the window
    q.processAllAvailable(); q.stop()

    val out = spark.table("ssj_out").select("b_user").as[Long].collect().toSeq
    assert(out == Seq(1L))
  }

  test("streaming dedup within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData((ts("2024-01-01 10:00:00"), 1L), (ts("2024-01-01 10:00:01"), 1L),
      (ts("2024-01-01 10:00:02"), 2L))
    graft.core.Composite(Seq(
      StreamSource.of("s", in.toDF().toDF("ts", "id")),
      Watermark("s", "ts", "1 hour"),
      StreamDedup("s", Seq("id")),
      StreamSink.memory("s", "dedup_out").copy(sync = true)))(EmptyFlow)
    assert(spark.table("dedup_out").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
  }

  test("streaming near-dup dedup drops signature-equal docs within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, String)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val copied = "the quick brown fox jumps over the lazy dog again and again"
    val fresh = "completely unrelated subject matter discussed at considerable length here"
    // precondition (batch): the copied docs share a signature, fresh differs
    val sigs = Seq(copied, copied, fresh).toDF("text")
      .select(graft.functions.HashFunctions.minhashSignatureFused(
        org.apache.spark.sql.functions.array_distinct(
          graft.functions.TextFunctions.wordShingles(
            org.apache.spark.sql.functions.col("text"), 3)), 16).cast("string"))
      .as[String].collect()
    assert(sigs(0) == sigs(1) && sigs(0) != sigs(2))

    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, copied),
      (ts("2024-01-01 10:00:01"), 2L, copied), // near-dup of 1 -> dropped
      (ts("2024-01-01 10:00:02"), 3L, fresh))
    graft.core.Composite(Seq(
      StreamSource.of("nd", in.toDF().toDF("ts", "id", "text")),
      Watermark("nd", "ts", "1 hour"),
      StreamDedup.byMinhashSignature("nd", "text", shingleSize = 3, numHashes = 16),
      StreamSink.memory("nd", "neardup_out").copy(sync = true)))(EmptyFlow)
    assert(spark.table("neardup_out").select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("foreachBatch incremental dedup: each micro-batch drops against the standing index") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.Dedup
    val standing = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "some other standing corpus document right here")).toDF("doc_id", "text")
    val index = Dedup.buildDedupIndex(standing, "doc_id", "text", 2, 64, 16)
      .localCheckpoint(true) // the materialized standing index a real pipeline keeps

    val in = MemoryStream[(Long, String)]
    in.addData(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact copy -> dropped
      (11L, "a genuinely fresh incoming document"))          // kept + appended
    val kept = scala.collection.mutable.ArrayBuffer[Long]()
    graft.core.Composite(Seq(
      StreamSource.of("inc", in.toDF().toDF("doc_id", "text")),
      StreamSink.foreachBatch("inc") { (batch, _) =>
        // the production micro-batch ingestion shape: dedup the batch
        // against the standing index, append survivors
        val survivors = Dedup.dropAgainstIndex(batch, index, "doc_id", "text", 2, 64, 16)
        kept ++= survivors.select("doc_id").collect().map(_.getLong(0))
        graft.core.CacheRegistry.unpersistAll()
      }.copy(sync = true)))(EmptyFlow)
    assert(kept.sorted.toSeq == Seq(11L))
  }

  test("streaming near-dup dedup never collapses wordless or null-text docs together") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long, Option[String])]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    in.addData(
      (ts("2024-01-01 10:00:00"), 1L, Some("!!!")),  // wordless
      (ts("2024-01-01 10:00:01"), 2L, Some("???")),  // wordless, distinct -> kept
      (ts("2024-01-01 10:00:02"), 3L, Some("!!!")),  // byte-identical to 1 -> dropped
      (ts("2024-01-01 10:00:03"), 4L, None),         // null text -> kept
      (ts("2024-01-01 10:00:04"), 5L, None))         // null text -> kept too
    graft.core.Composite(Seq(
      StreamSource.of("ndw", in.toDF().toDF("ts", "id", "text")),
      Watermark("ndw", "ts", "1 hour"),
      StreamDedup.byMinhashSignature("ndw", "text"),
      StreamSink.memory("ndw", "neardup_wordless_out").copy(sync = true)))(EmptyFlow)
    assert(spark.table("neardup_wordless_out").select("id").as[Long].collect().sorted.toSeq ==
      Seq(1L, 2L, 4L, 5L))
  }

  test("streaming z-score matches the batch operator bit-exactly on an in-order feed") {
    import graft.streaming.StreamZscore
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    val data = (1 to 40).map(i => ("a", i.toLong, (rnd.nextInt(20) + 5).toLong)) ++
      (1 to 25).map(i => ("b", i.toLong, (rnd.nextInt(90) + 10).toLong))
    val in = MemoryStream[(String, Long, Long)]
    val q = StreamZscore(in.toDS(), window = 8, minPeriods = 4, threshold = 1.5)
      .writeStream.format("memory").queryName("zs_out").outputMode("append").start()
    val (batch1, batch2) = data.partition(_._2 <= 20) // split mid-history per key
    in.addData(batch1); q.processAllAvailable()
    in.addData(batch2); q.processAllAvailable(); q.stop()
    val streamed = spark.table("zs_out")
      .select("key", "seq", "z", "isAnomaly")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getBoolean(3))).toMap
    val batch = graft.operators.Analytics.rollingZscore(
        data.toDF("key", "seq", "v"), Seq(col("key")), Seq(col("seq")), col("v"),
        window = 8, minPeriods = 4, threshold = 1.5)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((if (r.isNullAt(3)) None else Some(r.getDouble(3))), r.getBoolean(4))).toMap
    assert(streamed.size == data.size && batch.size == data.size)
    // bit-exact agreement, doubles compared with ==
    data.foreach { case (k, i, _) => assert(streamed((k, i)) == batch((k, i)), s"($k, $i)") }
    assert(streamed.values.exists(_._2), "fixture should contain at least one anomaly")
  }

  test("streaming drift monitor: chiSquareDrift per micro-batch against a static baseline") {
    implicit val sqlCtx = spark.sqlContext
    // baseline: uniform over bins 0/1; batch 1 matches it, batch 2 is
    // all-bin-9 — the alarm fires only on the drifted batch
    val baseline = Seq(("g", 0L), ("g", 0L), ("g", 1L), ("g", 1L)).toDF("g", "bin")
    val alarms = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val in = MemoryStream[(String, Long)]
    // explicit function value: foreachBatch has a Java overload the
    // Scala 2.13 lambda would be ambiguous against
    val monitor: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (batch, id) =>
        if (!batch.isEmpty) {
          val r = graft.operators.Quality
            .chiSquareDrift(baseline, batch.toDF(), Seq("g"), col("bin")).head()
          alarms += ((id, r.getLong(2), r.getDouble(3)))
        }
    val q = in.toDF().toDF("g", "bin").writeStream.foreachBatch(monitor).start()
    in.addData(Seq(("g", 0L), ("g", 0L), ("g", 1L), ("g", 1L)))
    q.processAllAvailable()
    in.addData(Seq(("g", 9L), ("g", 9L), ("g", 9L), ("g", 9L)))
    q.processAllAvailable(); q.stop()
    assert(alarms.size == 2)
    val (inBand, drifted) = (alarms.head, alarms.last)
    assert(inBand._2 == 0L)                 // identical distribution: exactly zero
    assert(drifted._3 > 3.84)               // chi2 over the 1-dof 5% critical value
  }

  test("streaming z-score drops late/duplicate seqs and flags them, state stays bounded") {
    import graft.streaming.StreamZscore
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val q = StreamZscore(in.toDS(), window = 3, minPeriods = 2, threshold = 9.0)
      .writeStream.format("memory").queryName("zs_late").outputMode("append").start()
    in.addData(Seq(("k", 1L, 10L), ("k", 2L, 12L), ("k", 3L, 11L), ("k", 4L, 13L)))
    q.processAllAvailable()
    in.addData(Seq(("k", 3L, 99L), ("k", 5L, 12L))) // 3 replays: late, must not re-anchor
    q.processAllAvailable(); q.stop()
    val rows = spark.table("zs_late").as[StreamZscore.ZRow].collect()
    val late = rows.filter(_.late)
    assert(late.map(r => (r.seq, r.x)).toSeq == Seq((3L, 99L)) && late.forall(_.z.isEmpty))
    // seq 5 sees window {11, 12, 13} (seq 2..4) — the replayed 99 never entered
    val r5 = rows.find(r => r.seq == 5L && !r.late).get
    assert(r5.n == 3L && r5.x == 12L)
    val z5 = (3.0 * 12 - 36) / math.sqrt((3.0 * 434 - 36.0 * 36) * 3.0 / 2.0)
    assert(r5.z.contains(z5))
  }

  test("streaming EWMA matches the batch operator bit-exactly on an in-order feed") {
    import graft.streaming.StreamEwma
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(7)
    val data = (1 to 30).map(i => (1L, i.toLong, Some(rnd.nextDouble() * 50))) ++
      (1 to 20).map(i => (2L, i.toLong, Some(rnd.nextDouble() * 9)))
    val in = MemoryStream[(Long, Long, Option[Double])]
    val q = StreamEwma(in.toDS(), alpha = 0.25)
      .writeStream.format("memory").queryName("ew_out").outputMode("append").start()
    val (b1, b2) = data.partition(_._2 <= 12) // split mid-history per key
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable(); q.stop()
    val streamed = spark.table("ew_out").as[StreamEwma.ERow].collect()
      .map(r => (r.key, r.seq) -> r.ewma).toMap
    val batch = graft.operators.Analytics.ewma(
        data.map(t => (t._1, t._2, t._3.get)).toDF("k", "seq", "v"),
        col("k"), Seq(col("seq")), col("seq"), col("v"), alpha = 0.25)
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(2)).toMap
    assert(streamed.size == data.size)
    data.foreach { case (k, i, _) =>
      assert(streamed((k, i)).contains(batch((k, i))), s"($k, $i)") // == on doubles
    }
  }

  test("streaming Holt matches the batch operator bit-exactly on an in-order feed") {
    import graft.streaming.StreamHolt
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val data = (1 to 25).map(i => (1L, i.toLong, Some(rnd.nextDouble() * 40))) ++
      (1 to 15).map(i => (2L, i.toLong, Some(rnd.nextDouble() * 7)))
    val in = MemoryStream[(Long, Long, Option[Double])]
    val q = StreamHolt(in.toDS(), alpha = 0.5, beta = 0.3)
      .writeStream.format("memory").queryName("ho_out").outputMode("append").start()
    val (b1, b2) = data.partition(_._2 <= 10) // split mid-history per key
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable(); q.stop()
    val streamed = spark.table("ho_out").as[StreamHolt.HRow].collect()
      .map(r => (r.key, r.seq) -> ((r.level, r.trend, r.forecast))).toMap
    val batch = graft.operators.Analytics.holt(
        data.map(t => (t._1, t._2, t._3.get)).toDF("k", "seq", "v"),
        col("k"), Seq(col("seq")), col("seq"), col("v"),
        alpha = 0.5, beta = 0.3)
      .collect().map(r => (r.getLong(1), r.getLong(0)) ->
        ((Option(r.get(2)).map(_.asInstanceOf[Double]),
          Option(r.get(3)).map(_.asInstanceOf[Double]),
          Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
    assert(streamed.size == data.size)
    data.foreach { case (k, i, _) =>
      assert(streamed((k, i)) == batch((k, i)), s"($k, $i)") // == on doubles
    }
  }

  test("streaming Holt: late seqs flagged, nulls skip without touching state") {
    import graft.streaming.StreamHolt
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Option[Double])]
    val q = StreamHolt(in.toDS(), alpha = 0.5, beta = 0.3)
      .writeStream.format("memory").queryName("ho_late").outputMode("append").start()
    in.addData(Seq((9L, 1L, Some(10.0)), (9L, 2L, Some(20.0)), (9L, 3L, None)))
    q.processAllAvailable()
    in.addData(Seq((9L, 2L, Some(999.0)), (9L, 4L, Some(30.0)))) // 2 replays: late
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ho_late").as[StreamHolt.HRow].collect()
    assert(rows.filter(_.late).map(_.seq).toSeq == Seq(2L))
    val bySeq = rows.filterNot(_.late).map(r => r.seq -> r.level).toMap
    // seed l=10 b=0; seq2: l = .5*20 + .5*10 = 15, b = .3*5 = 1.5
    assert(bySeq(1L).contains(10.0) && bySeq(2L).contains(15.0))
    assert(bySeq(3L).isEmpty)
    // seq 4 folds onto (15, 1.5): l = .5*30 + .5*16.5 = 23.25
    assert(bySeq(4L).contains(23.25))

    // Holt-Winters through the same driver: a stale seq (2) and a
    // duplicate of the high-water mark (3) are flagged with null
    // outputs and never folded
    import graft.streaming.StreamHoltWinters
    val inW = MemoryStream[(Long, Long, Option[Double], Int)]
    val qW = StreamHoltWinters(inW.toDS(), period = 2, alpha = 0.5, beta = 0.5, gamma = 0.5)
      .writeStream.format("memory").queryName("hw_late").outputMode("append").start()
    inW.addData(Seq((9L, 1L, Some(10.0), 0), (9L, 2L, Some(20.0), 1)))
    qW.processAllAvailable()
    inW.addData(Seq((9L, 2L, Some(999.0), 1), (9L, 3L, Some(30.0), 0)))
    qW.processAllAvailable()
    inW.addData(Seq((9L, 3L, Some(-999.0), 0), (9L, 4L, Some(40.0), 1)))
    qW.processAllAvailable(); qW.stop()
    val rowsW = spark.table("hw_late").as[StreamHoltWinters.WRow].collect()
    val lateW = rowsW.filter(_.late)
    assert(lateW.map(_.seq).sorted.toSeq == Seq(2L, 3L) &&
      lateW.forall(r => r.level.isEmpty && r.trend.isEmpty && r.seasonal.isEmpty))
    // seed l=10; seq2: l=15 b=2.5 s1=2.5; seq3: l=23.75 b=5.625 s0=3.125;
    // seq4 folds onto seq 3, not onto either replay
    assert(rowsW.filterNot(_.late).map(r => r.seq -> ((r.level, r.trend, r.seasonal)))
      .toMap == Map(
        1L -> ((Some(10.0), Some(0.0), Some(0.0))),
        2L -> ((Some(15.0), Some(2.5), Some(2.5))),
        3L -> ((Some(23.75), Some(5.625), Some(3.125))),
        4L -> ((Some(33.4375), Some(7.65625), Some(4.53125)))))
  }

  test("streaming EWMA: late seqs are flagged, nulls skip without resetting state") {
    import graft.streaming.StreamEwma
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Option[Double])]
    val q = StreamEwma(in.toDS(), alpha = 0.25)
      .writeStream.format("memory").queryName("ew_late").outputMode("append").start()
    in.addData(Seq((9L, 1L, Some(8.0)), (9L, 2L, Some(4.0)), (9L, 3L, None)))
    q.processAllAvailable()
    in.addData(Seq((9L, 2L, Some(999.0)), (9L, 4L, Some(12.0)))) // 2 replays: late
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ew_late").as[StreamEwma.ERow].collect()
    assert(rows.filter(_.late).map(_.seq).toSeq == Seq(2L))
    val bySeq = rows.filterNot(_.late).map(r => r.seq -> r.ewma).toMap
    val s2 = 0.25 * 4.0 + 0.75 * 8.0
    // null at seq 3 emitted None; seq 4 folds onto s2, not onto 999
    assert(bySeq == Map(1L -> Some(8.0), 2L -> Some(s2), 3L -> None,
      4L -> Some(0.25 * 12.0 + 0.75 * s2)))
  }

  test("streaming quantile twin: exact running medians below cap, estimate flag past it") {
    import graft.streaming.StreamQuantile
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(29)
    val vals = Vector.fill(30)(rnd.nextDouble() * 100)
    val feed = vals.zipWithIndex.map { case (v, i) => (5L, (i + 1).toLong, Some(v)) }
    val in = MemoryStream[(Long, Long, Option[Double])]
    val q = StreamQuantile(in.toDS(), p = 0.5, k = 64)
      .writeStream.format("memory").queryName("sq_out").outputMode("append").start()
    val (b1, b2) = feed.partition(_._2 <= 13)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable(); q.stop()
    val rows = spark.table("sq_out").as[StreamQuantile.QRow].collect()
      .sortBy(_.seq)
    assert(rows.forall(r => r.exact && !r.late)) // 30 < 64: all exact
    // running type-1 medians recomputed independently
    rows.foreach { r =>
      val prefix = vals.take(r.seq.toInt).sorted
      val expect = prefix(math.ceil(0.5 * prefix.length).toInt - 1)
      assert(r.quantile.contains(expect), s"seq ${r.seq}")
    }
    // past the cap the flag flips (k=16 on a fresh key)
    val in2 = MemoryStream[(Long, Long, Option[Double])]
    val q2 = StreamQuantile(in2.toDS(), p = 0.5, k = 16)
      .writeStream.format("memory").queryName("sq_cap").outputMode("append").start()
    in2.addData((1 to 40).map(i => (9L, i.toLong, Some(i.toDouble))))
    q2.processAllAvailable(); q2.stop()
    val capped = spark.table("sq_cap").as[StreamQuantile.QRow].collect().sortBy(_.seq)
    assert(capped.takeWhile(_.exact).size == 16)
    val est = capped.last.quantile.get
    assert(est > 1.0 && est < 40.0) // a sane in-range estimate
  }

  test("streaming CUSUM matches the batch operator bit-exactly; late and null contracts hold") {
    import graft.streaming.StreamCusum
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(17)
    val data = (1 to 25).map(i => (1L, i.toLong, Some(rnd.nextDouble() * 2))) ++
      (1 to 15).map(i => (2L, i.toLong, Some(rnd.nextDouble())))
    val in = MemoryStream[(Long, Long, Option[Double])]
    val q = StreamCusum(in.toDS(), drift = 0.8, threshold = 2.0)
      .writeStream.format("memory").queryName("cs_out").outputMode("append").start()
    val (b1, b2) = data.partition(_._2 <= 10)
    in.addData(b1); q.processAllAvailable()
    in.addData(b2)
    in.addData(Seq((1L, 3L, Some(99.0)))) // replay: late, never folded
    q.processAllAvailable(); q.stop()
    val rows = spark.table("cs_out").as[StreamCusum.CRow].collect()
    assert(rows.count(_.late) == 1 && rows.filter(_.late).head.seq == 3L)
    val streamed = rows.filterNot(_.late)
      .map(r => (r.key, r.seq) -> (r.cusum, r.alarm)).toMap
    val batch = graft.operators.Analytics.cusum(
        data.map(t => (t._1, t._2, t._3.get)).toDF("k", "i", "v"),
        col("k"), Seq(col("i")), col("i"), col("v"),
        drift = 0.8, threshold = 2.0)
      .collect().map(r => (r.getLong(1), r.getLong(0)) ->
        (Some(r.getDouble(2)), r.getBoolean(3))).toMap
    assert(streamed.size == data.size)
    data.foreach { case (k, i, _) =>
      assert(streamed((k, i)) == batch((k, i)), s"($k, $i)") // == on doubles
    }
  }

  test("stream-stream interval join: in-window pairs match, out-of-window and cross-key drop") {
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new Timestamp(s * 1000L)
    val l = MemoryStream[(Timestamp, Long, String)]
    val r = MemoryStream[(Timestamp, Long, String)]
    val q = StreamJoin.interval(
        l.toDS().toDF("lt", "k", "lv"), r.toDS().toDF("rt", "k", "rv"),
        key = "k", leftTs = "lt", rightTs = "rt",
        delay = "10 seconds", lowerBound = "0 seconds", upperBound = "5 seconds")
      .writeStream.format("memory").queryName("ssj").outputMode("append").start()
    l.addData((ts(10), 1L, "a"), (ts(30), 3L, "b"))
    r.addData(
      (ts(12), 1L, "x"), // within [10, 15] on key 1: MATCH
      (ts(20), 1L, "y"), // past the 5s window: drop
      (ts(11), 2L, "z"), // wrong key: drop
      (ts(30), 3L, "w")) // lower bound inclusive: MATCH
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssj").collect()
      .map(r => (r.getAs[String]("lv"), r.getAs[String]("rv"))).toSet
    assert(rows == Set(("a", "x"), ("b", "w")))
  }

  test("streaming distinct-count twin: exact below cap, equals batch expandingDistinct") {
    import graft.streaming.StreamDistinct
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(11)
    // uniform 64-bit "hashes" (the kmv contract); repeats planted
    val vals1 = Vector.fill(12)(rnd.nextLong())
    val key1 = (1 to 20).map(i => (1L, i.toLong, vals1(rnd.nextInt(12))))
    val vals2 = Vector.fill(5)(rnd.nextLong())
    val key2 = (1 to 8).map(i => (2L, i.toLong, vals2(rnd.nextInt(5))))
    val data = key1 ++ key2
    val in = MemoryStream[(Long, Long, Long)]
    val q = StreamDistinct(in.toDS(), k = 64)
      .writeStream.format("memory").queryName("sd_out").outputMode("append").start()
    val (b1, b2) = data.partition(_._2 <= 9) // split mid-history per key
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable(); q.stop()
    val streamed = spark.table("sd_out").as[StreamDistinct.DRow].collect()
    assert(streamed.forall(r => r.exact && !r.late)) // far below cap 64
    val got = streamed.map(r => (r.key, r.seq) -> r.distinct_count.toLong).toMap
    val batch = graft.operators.Analytics.expandingDistinct(
        data.toDF("k", "seq", "v"), col("k"), col("v"), col("seq"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(got.size == data.size)
    data.foreach { case (k, i, _) =>
      assert(got((k, i)) == batch((k, i)), s"($k, $i)")
    }
  }

  test("streaming distinct-count twin: cap switch flags estimates, late seqs flagged") {
    import graft.streaming.StreamDistinct
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(23)
    val distincts = Vector.fill(48)(rnd.nextLong())
    val feed = distincts.zipWithIndex.map { case (v, i) => (7L, (i + 1).toLong, v) }
    val in = MemoryStream[(Long, Long, Long)]
    val q = StreamDistinct(in.toDS(), k = 16)
      .writeStream.format("memory").queryName("sd_cap").outputMode("append").start()
    in.addData(feed); q.processAllAvailable()
    in.addData(Seq((7L, 10L, rnd.nextLong()))) // replayed seq: must be late
    q.processAllAvailable(); q.stop()
    val rows = spark.table("sd_cap").as[StreamDistinct.DRow].collect()
    val late = rows.filter(_.late)
    assert(late.map(_.seq).toSeq == Seq(10L))
    val inOrder = rows.filterNot(_.late).sortBy(_.seq)
    // exact while the sketch holds < 16 hashes, estimates after
    assert(inOrder.takeWhile(_.exact).map(_.distinct_count.toLong).toSeq ==
      (1L to 15L))
    val tail = inOrder.dropWhile(_.exact)
    assert(tail.nonEmpty && tail.forall(!_.exact))
    // KMV k=16: ~25% stderr — pin a loose 2.5-sigma band on the final estimate
    val fin = inOrder.last.distinct_count
    assert(fin > 48 * 0.4 && fin < 48 * 1.8, s"estimate $fin vs true 48")
    // estimates never decrease on a pure-insert feed... not guaranteed for KMV
    // (theta only moves when a smaller hash lands), but they must stay positive
    assert(tail.forall(_.distinct_count > 0))

    // the sampled-quantile twin through the same driver: a stale seq
    // (3) and a duplicate of the high-water mark (5) are flagged, carry
    // no quantile, and never enter the sample
    import graft.streaming.StreamQuantile
    val inQ = MemoryStream[(Long, Long, Option[Double])]
    val qQ = StreamQuantile(inQ.toDS(), p = 0.5, k = 16)
      .writeStream.format("memory").queryName("sq_late").outputMode("append").start()
    inQ.addData((1 to 5).map(i => (7L, i.toLong, Some(i.toDouble))))
    qQ.processAllAvailable()
    inQ.addData(Seq((7L, 3L, Some(1000.0)), (7L, 5L, Some(1000.0)), (7L, 6L, Some(6.0))))
    qQ.processAllAvailable(); qQ.stop()
    val rowsQ = spark.table("sq_late").as[StreamQuantile.QRow].collect()
    val lateQ = rowsQ.filter(_.late)
    assert(lateQ.map(_.seq).sorted.toSeq == Seq(3L, 5L) && lateQ.forall(_.quantile.isEmpty))
    // seq 6: lower median of 1..6, as if the replays never arrived
    val r6 = rowsQ.find(r => r.seq == 6L && !r.late).get
    assert(r6.n == 6L && r6.quantile.contains(3.0) && r6.exact)
  }

  test("HotSwap: in-flight transform rewrite — same runId, no restart, batch-boundary handoff") {
    // reference: lib/composite/manipulations.ex rewires RUNNING actors;
    // here the query keeps running and only the per-batch plan changes.
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Int]
    val buf = scala.collection.mutable.ArrayBuffer.empty[Int]
    val handle = HotSwap(_.select((col("value") * 1).as("v")))
    val flow = graft.core.Composite(Seq(
      StreamSource.of("hs", in.toDF().toDF("value")),
      HotSwap.sink("hs", handle,
        (df, _) => buf.synchronized { buf ++= df.as[Int](org.apache.spark.sql.Encoders.scalaInt).collect() })))(
      EmptyFlow)
    assert(flow.isEmpty)
    val q = StreamSink.active.last
    val runId = q.runId
    in.addData(1, 2); q.processAllAvailable()
    handle.swap(_.select((col("value") * 10).as("v")))
    in.addData(3); q.processAllAvailable()
    // the query NEVER stopped: same incarnation served both functions
    assert(q.isActive && q.runId == runId)
    q.stop()
    assert(buf.synchronized(buf.sorted.toSeq) == Seq(1, 2, 30))
    assert(handle.swapCount == 1L)
  }

  test("StatefulHotSwap: accumulator survives a plan-SHAPE swap mid-query") {
    // reference: lib/gen_mix.ex:290-307 hands the running task/acc pair
    // to the replacement definition. Here the acc is a versioned parquet
    // state table; the swapped-in step has a DIFFERENT plan shape and a
    // WIDER state schema, and still receives the carried totals.
    implicit val sqlCtx = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("shs").toString
    val in = MemoryStream[Int]
    val outRows = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    // gen-1 state: (k, total) running per-parity sums
    val init = Seq.empty[(Long, Long)].toDF("k", "total")
    val step1: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      (batch, state) => {
        val upd = batch.select((col("value") % 2).cast("long").as("k"),
            col("value").cast("long").as("v"))
          .groupBy("k").agg(sum("v").as("inc"))
        val next = state.join(upd, Seq("k"), "full")
          .select(col("k"),
            (coalesce(col("total"), lit(0L)) + coalesce(col("inc"), lit(0L)))
              .as("total"))
        (next, next)
      }
    val handle = StatefulHotSwap(step1)
    val flow = graft.core.Composite(Seq(
      StreamSource.of("shs", in.toDF().toDF("value")),
      StatefulHotSwap.sink("shs", handle, init, s"$dir/state",
        (df, _) => outRows.synchronized {
          outRows ++= df.select("k", "total").as[(Long, Long)].collect()
        })))(EmptyFlow)
    assert(flow.isEmpty)
    val q = StreamSink.active.last
    val runId = q.runId
    in.addData(1, 2, 3); q.processAllAvailable()
    // gen-1 committed: odd 1+3=4, even 2
    assert(outRows.synchronized(outRows.toSet) == Set((1L, 4L), (0L, 2L)))
    // swap to a WIDER state (adds a batch counter) with a migration —
    // different agg, extra join, new column: a genuine plan-shape change
    handle.swap(
      (batch, state) => {
        val upd = batch.select((col("value") % 2).cast("long").as("k"),
            col("value").cast("long").as("v"))
          .groupBy("k").agg(sum("v").as("inc"), count(lit(1)).as("cnt"))
        val next = state.join(upd, Seq("k"), "full")
          .select(col("k"),
            (coalesce(col("total"), lit(0L)) + coalesce(col("inc"), lit(0L)))
              .as("total"),
            (coalesce(col("batches"), lit(0L)) +
              when(col("inc").isNotNull, 1L).otherwise(0L)).as("batches"))
        (next, next)
      },
      migrate = st => st.withColumn("batches", lit(0L)))
    outRows.synchronized(outRows.clear())
    in.addData(4, 5); q.processAllAvailable()
    // the carried totals flow through the NEW shape: odd 4+5=9, even 2+4=6
    val after = outRows.synchronized(outRows.toSet)
    assert(after == Set((1L, 9L), (0L, 6L)))
    // the query NEVER stopped across the stateful swap
    assert(q.isActive && q.runId == runId)
    assert(handle.swapCount == 1L)
    // the committed accumulator is plain parquet, readable mid-flight
    val st = handle.currentState(spark, init)
    assert(st.columns.toSet == Set("k", "total", "batches"))
    assert(st.select("k", "total").as[(Long, Long)].collect().toSet ==
      Set((1L, 9L), (0L, 6L)))
    q.stop()
  }

  test("StatefulHotSwap: a retried batch replays from the predecessor state") {
    // the engine may re-run a micro-batch after a sink failure; the
    // replay must consume the state the batch ORIGINALLY read, not its
    // own committed output (which would double-count)
    val dir = java.nio.file.Files.createTempDirectory("shsr").toString
    val init = Seq.empty[(Long, Long)].toDF("k", "total")
    val step: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      (batch, state) => {
        val upd = batch.groupBy(col("k")).agg(sum(col("v")).as("inc"))
        val next = state.join(upd, Seq("k"), "full")
          .select(col("k"),
            (coalesce(col("total"), lit(0L)) + coalesce(col("inc"), lit(0L)))
              .as("total"))
        (next, next)
      }
    val handle = StatefulHotSwap(step)
    val b0 = Seq((1L, 10L)).toDF("k", "v")
    val b1 = Seq((1L, 5L)).toDF("k", "v")
    def readTotals() = handle.currentState(spark, init)
      .as[(Long, Long)].collect().toMap
    handle.runBatch(b0, 0L, init, s"$dir/state", (_, _) => ())
    handle.runBatch(b1, 1L, init, s"$dir/state", (_, _) => ())
    assert(readTotals() == Map(1L -> 15L))
    // retry of batch 1: must land on the same state, not 20
    handle.runBatch(b1, 1L, init, s"$dir/state", (_, _) => ())
    assert(readTotals() == Map(1L -> 15L))
    // and the pipeline continues correctly after the replay
    handle.runBatch(Seq((1L, 1L)).toDF("k", "v"), 2L, init, s"$dir/state",
      (_, _) => ())
    assert(readTotals() == Map(1L -> 16L))
  }

  test("StatefulHotSwap: a RECONSTRUCTED handle resumes from the durable commit pointer") {
    // the in-memory committed pointer dies with the driver; the
    // _latest marker beside the parquet versions must carry the resume
    // — kill the handle, rebuild it cold, and the totals continue
    val dir = java.nio.file.Files.createTempDirectory("shsd").toString
    val init = Seq.empty[(Long, Long)].toDF("k", "total")
    val step: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      (batch, state) => {
        val upd = batch.groupBy(col("k")).agg(sum(col("v")).as("inc"))
        val next = state.join(upd, Seq("k"), "full")
          .select(col("k"),
            (coalesce(col("total"), lit(0L)) + coalesce(col("inc"), lit(0L)))
              .as("total"))
        (next, next)
      }
    val handleA = StatefulHotSwap(step)
    handleA.runBatch(Seq((1L, 10L)).toDF("k", "v"), 0L, init, s"$dir/state",
      (_, _) => ())
    handleA.runBatch(Seq((1L, 5L)).toDF("k", "v"), 1L, init, s"$dir/state",
      (_, _) => ())
    // "driver restart": a brand-new handle, no in-memory state at all
    val handleB = StatefulHotSwap(step)
    // explicit recover surfaces the committed state BEFORE any batch
    handleB.recover(spark, s"$dir/state")
    assert(handleB.currentState(spark, init)
      .as[(Long, Long)].collect().toMap == Map(1L -> 15L))
    // a replay of the last pre-crash batch on the rebuilt handle must
    // consume the predecessor state (recovered from the marker), not
    // double-count its own committed output
    val handleC = StatefulHotSwap(step)
    handleC.runBatch(Seq((1L, 5L)).toDF("k", "v"), 1L, init, s"$dir/state",
      (_, _) => ())
    assert(handleC.currentState(spark, init)
      .as[(Long, Long)].collect().toMap == Map(1L -> 15L))
    // and fresh progress continues from the carried totals
    handleC.runBatch(Seq((1L, 2L), (2L, 7L)).toDF("k", "v"), 2L, init,
      s"$dir/state", (_, _) => ())
    assert(handleC.currentState(spark, init)
      .as[(Long, Long)].collect().toMap == Map(1L -> 17L, 2L -> 7L))
  }

  test("StatefulHotSwap: a garbled _latest marker degrades to init, never wedges") {
    // a crash mid-write of _latest.tmp can leave a non-numeric first
    // line; an unparseable marker must behave like a MISSING one (fall
    // back to init) instead of throwing NumberFormatException inside
    // every subsequent runBatch
    val dir = java.nio.file.Files.createTempDirectory("shsg").toString
    val init = Seq.empty[(Long, Long)].toDF("k", "total")
    val step: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =>
        (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
      (batch, state) => {
        val upd = batch.groupBy(col("k")).agg(sum(col("v")).as("inc"))
        val next = state.join(upd, Seq("k"), "full")
          .select(col("k"),
            (coalesce(col("total"), lit(0L)) + coalesce(col("inc"), lit(0L)))
              .as("total"))
        (next, next)
      }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(s"$dir/state"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/state/_latest"),
      "garbled junk\nnot-a-path\n-\n".getBytes("UTF-8"))
    val handle = StatefulHotSwap(step)
    handle.recover(spark, s"$dir/state") // must not throw
    assert(handle.currentState(spark, init)
      .as[(Long, Long)].collect().isEmpty) // fell back to init
    // a VALID batch id with a garbled/empty PATH line (crash mid-write
    // after the first line): new Path("") itself throws — must degrade too
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/state/_latest"),
      "123\n\n-\n".getBytes("UTF-8"))
    val handleP = StatefulHotSwap(step)
    handleP.recover(spark, s"$dir/state") // must not throw either
    assert(handleP.currentState(spark, init)
      .as[(Long, Long)].collect().isEmpty)
    // a VALID batch id with a wrong-scheme URI path: fs.exists throws
    // IllegalArgumentException ("Wrong FS") — a garbled-marker case
    // that must degrade to init too (only IOException — a retryable
    // infra error — propagates from recover)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/state/_latest"),
      "123\nhdfs://nowhere:9000/x\n-\n".getBytes("UTF-8"))
    val handleW = StatefulHotSwap(step)
    handleW.recover(spark, s"$dir/state") // must not throw either
    assert(handleW.currentState(spark, init)
      .as[(Long, Long)].collect().isEmpty)
    // restore the all-garbled marker for the proceed-and-overwrite leg
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/state/_latest"),
      "garbled junk\nnot-a-path\n-\n".getBytes("UTF-8"))
    // and the stream proceeds + commits a VALID marker over the junk
    handle.runBatch(Seq((1L, 3L)).toDF("k", "v"), 0L, init, s"$dir/state",
      (_, _) => ())
    assert(handle.currentState(spark, init)
      .as[(Long, Long)].collect().toMap == Map(1L -> 3L))
    val rebuilt = StatefulHotSwap(step)
    rebuilt.recover(spark, s"$dir/state")
    assert(rebuilt.currentState(spark, init)
      .as[(Long, Long)].collect().toMap == Map(1L -> 3L))
  }

  test("streaming mode matches modePerKey after every batch; domain cap flags") {
    import graft.streaming.StreamMode
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamMode(in.toDS(), maxDomain = 3)
      .writeStream.format("memory").queryName("md_out").outputMode("append").start()
    val b1 = Seq((1L, "b"), (1L, "a"), (1L, "b"), (2L, "z"))
    val b2 = Seq((1L, "a"), (2L, "y"), (2L, "y"))
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable(); q.stop()
    val rows = spark.table("md_out").as[StreamMode.MRow].collect()
    // batch parity on the FULL feed: latest row per key == modePerKey
    val latest = rows.groupBy(_.key).map { case (k, rs) => k -> rs.last }
    val batch = graft.operators.Relational.modePerKey(
        (b1 ++ b2).toDF("k", "v"), col("k"), col("v"))
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // ties: key 1 has a=2, b=2 -> 'a' lexicographic; key 2 y=2 beats z
    batch.foreach { case (k, (m, n)) =>
      assert(latest(k).mode.contains(m) && latest(k).n == n, s"key $k")
    }
    // overflow: 4th distinct value for key 1 trips the cap flag but
    // never corrupts the counted domain
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamMode(in2.toDS(), maxDomain = 2)
      .writeStream.format("memory").queryName("md_out2").outputMode("append").start()
    in2.addData(Seq((1L, "a"), (1L, "b"), (1L, "c"), (1L, "a")))
    q2.processAllAvailable(); q2.stop()
    val r2 = spark.table("md_out2").as[StreamMode.MRow].collect().head
    assert(r2.overflowed && r2.distinct == 2 && r2.mode.contains("a") && r2.n == 2L)
  }

  test("streaming Holt-Winters matches the batch fold bit-exactly in order") {
    import graft.streaming.StreamHoltWinters
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(21)
    val xs = (0 until 20).map(_ => rnd.nextDouble() * 30)
    // season positions in [0, period), then negative ones: both twins
    // wrap a position into [0, period) the same way
    Seq[(String, Int => Int)]("hw_out" -> (_ % 7), "hw_neg" -> (_ - 30)).foreach {
      case (name, posOf) =>
        val data = xs.zipWithIndex.map { case (x, i) => (1L, i.toLong, Some(x), posOf(i)) }
        val in = MemoryStream[(Long, Long, Option[Double], Int)]
        val q = StreamHoltWinters(in.toDS(), period = 7,
            alpha = 0.5, beta = 0.25, gamma = 0.5)
          .writeStream.format("memory").queryName(name).outputMode("append").start()
        val (b1, b2) = data.partition(_._2 <= 9) // split mid-history
        in.addData(b1); q.processAllAvailable()
        in.addData(b2); q.processAllAvailable(); q.stop()
        val streamed = spark.table(name).as[StreamHoltWinters.WRow].collect()
          .map(r => r.seq -> ((r.level, r.trend, r.seasonal))).toMap
        val batch = graft.operators.Analytics.holtWinters(
            data.map(t => (t._1, t._2, t._3.get, t._4)).toDF("k", "seq", "x", "p"),
            col("k"), Seq(col("seq")), col("seq"), col("x"), col("p"),
            period = 7, alpha = 0.5, beta = 0.25, gamma = 0.5)
          .collect().map(r => r.getLong(0) ->
            ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
        assert(streamed.size == data.size && batch.size == data.size, name)
        data.foreach { case (_, i, _, _) =>
          val (sl, st_, ss) = streamed(i)
          assert(sl.contains(batch(i)._1) && st_.contains(batch(i)._2) &&
            ss.contains(batch(i)._3), s"$name seq $i") // == on doubles
        }
    }
  }

  test("streaming SRM matches the batch statistic on every prefix") {
    import graft.streaming.StreamSrm
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long)]
    val q = StreamSrm(in.toDS())
      .writeStream.format("memory").queryName("srm_out").outputMode("append").start()
    // experiment 7: wildly broken 8/2 split
    val feed = Seq.fill(8)((7L, 0L)) ++ Seq.fill(2)((7L, 1L))
    in.addData(feed.take(5)); q.processAllAvailable()
    in.addData(feed.drop(5)); q.processAllAvailable(); q.stop()
    val last = spark.table("srm_out").as[StreamSrm.SRow].collect().last
    val batch = graft.operators.Analytics.srmCheck(
        feed.map(_._2).toDF("arm"), col("arm")).collect().head
    assert((last.nA, last.nB, last.chi2Ppm) ==
      ((batch.getLong(0), batch.getLong(1), batch.getLong(2))))
    assert(last.srm95 == batch.getBoolean(3) && last.srm99 == batch.getBoolean(4))
  }

  test("streaming record detector matches the batch census; late rows flagged") {
    import graft.streaming.StreamRecords
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Long, Long)]
    val q = StreamRecords(in.toDS())
      .writeStream.format("memory").queryName("rec_out").outputMode("append").start()
    in.addData(Seq(("s", 1L, 3L), ("s", 2L, 1L)))
    q.processAllAvailable()
    // batch 2: two records, one tie, one LATE duplicate tick
    in.addData(Seq(("s", 3L, 4L), ("s", 4L, 4L), ("s", 5L, 5L), ("s", 2L, 9L)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("rec_out").as[StreamRecords.RRow].collect()
    val late = rows.filter(_.late)
    assert(late.map(r => (r.tick, r.value)).toSeq == Seq((2L, 9L)))
    val live = rows.filter(!_.late)
    assert(live.count(_.record) == 3L) // ticks 1, 3, 5
    val last = live.maxBy(_.tick)
    assert(last.nRecords == 3L && last.maxValue == 5L)
    // batch parity over the admitted rows
    val batch = graft.operators.Analytics.runningRecords(
      Seq(("s", 1L, 3L), ("s", 2L, 1L), ("s", 3L, 4L), ("s", 4L, 4L),
        ("s", 5L, 5L)).toDF("k", "t", "x"),
      col("k"), col("t"), col("x")).collect().head
    assert(batch.getAs[Long]("n_records") == 3L &&
      batch.getAs[Long]("max_value") == last.maxValue &&
      batch.getAs[Long]("last_record_tick") == 5L)
  }

  test("streaming AMS F2 counters are bit-equal to the batch sketch per prefix") {
    import graft.streaming.StreamAmsF2
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, String)]
    val q = StreamAmsF2(in.toDS())
      .writeStream.format("memory").queryName("ams_out").outputMode("append").start()
    val keys = Seq("a", "a", "b", "c", "a", "b")
    def feed(ks: Seq[String]) =
      in.addData(ks.flatMap(k => (0L until 3L).map(r => (r, k))))
    feed(keys.take(4)); q.processAllAvailable()
    feed(keys.drop(4)); q.processAllAvailable(); q.stop()
    // the LAST emission per replicate reflects the full prefix: the
    // squared counter must match the batch operator's per-replicate
    // estimate; the all-same-key degenerate check pins sign parity
    val last = spark.table("ams_out").as[StreamAmsF2.ARow].collect()
      .groupBy(_.replicate).map { case (r, rows) => r -> rows.last }
    assert(last.values.forall(_.nRows == 18L / 3L))
    // batch counters via the same md5 expression
    val batch = keys.toDF("k")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.sequence(
          org.apache.spark.sql.functions.lit(0),
          org.apache.spark.sql.functions.lit(2))).as("r"), col("k"))
      .select(col("r").cast("long").as("r"),
        (org.apache.spark.sql.functions.conv(
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit("ams"),
                col("r").cast("string"),
                org.apache.spark.sql.functions.lit(":"), col("k"))),
            1, 8), 16, 10).cast("long") % 2L * 2L - 1L).as("s"))
      .groupBy("r").sum("s")
      .collect().map(row => row.getLong(0) -> row.getAs[Long]("sum(s)")).toMap
    (0L until 3L).foreach { r =>
      assert(last(r).counter == batch(r), s"replicate $r")
      assert(last(r).est == batch(r) * batch(r))
    }
    // JVM sign() parity with the SQL md5 path: evaluate the SAME
    // conv(substring(md5("ams<r>:<k>"),1,8),16,10)%2*2-1 expression
    // through Spark for concrete (r, k) pairs and require equality —
    // pins the JVM hash path bit-for-bit, not just its ±1 range.
    val signPairs = Seq((0L, "a"), (1L, "a"), (2L, "b"), (0L, "zz"))
    val sqlSigns = signPairs.toDF("r", "k")
      .select(col("r"), col("k"),
        (org.apache.spark.sql.functions.conv(
          org.apache.spark.sql.functions.substring(
            org.apache.spark.sql.functions.md5(
              org.apache.spark.sql.functions.concat(
                org.apache.spark.sql.functions.lit("ams"),
                col("r").cast("string"),
                org.apache.spark.sql.functions.lit(":"), col("k"))),
            1, 8), 16, 10).cast("long") % 2L * 2L - 1L).as("s"))
      .collect().map(row =>
        (row.getLong(0), row.getString(1)) -> row.getLong(2)).toMap
    signPairs.foreach { case (r, k) =>
      assert(StreamAmsF2.sign(r, k) == sqlSigns((r, k)),
        s"sign($r, $k) diverges from the SQL md5 path")
    }
  }

  test("streaming time-to-convert matches the batch operator; late rows flagged") {
    import graft.streaming.StreamTtc
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Long, Int)]
    val q = StreamTtc(in.toDS())
      .writeStream.format("memory").queryName("ttc_out").outputMode("append").start()
    // user 1: to@50 (pre-anchor, ignored), from@100, to@400 -> convert
    // user 2: from only; user 3: to only
    in.addData(Seq((1L, 50000000L, 1), (1L, 100000000L, 0), (2L, 10L, 0)))
    q.processAllAvailable()
    in.addData(Seq((1L, 400000000L, 1), (3L, 5L, 1)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ttc_out").as[StreamTtc.TRow].collect()
    val converted = rows.filter(r => !r.late)
    assert(converted.map(r => (r.key, r.fromUs, r.toUs, r.delayS)).toSet ==
      Set((1L, 100000000L, 400000000L, 300L)))
    // batch parity on the same feed
    import java.sql.Timestamp
    val ev = Seq((1L, 50L, "purchase"), (1L, 100L, "signup"),
      (1L, 400L, "purchase"), (2L, 0L, "signup"), (3L, 0L, "purchase"))
      .map { case (u, s, t) => (u, new Timestamp(s * 1000L), t) }
      .toDF("u", "ts", "et")
    val batch = graft.operators.Analytics.timeToConvert(ev, col("u"), col("ts"),
        col("et") === "signup", col("et") === "purchase")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(batch == converted.map(r => (r.key, r.fromUs, r.toUs, r.delayS)).toSet)
    // a row below the high-water mark is flagged, not folded
    val in2 = MemoryStream[(Long, Long, Int)]
    val q2 = StreamTtc(in2.toDS())
      .writeStream.format("memory").queryName("ttc_out2").outputMode("append").start()
    in2.addData(Seq((1L, 100L, 0))); q2.processAllAvailable()
    in2.addData(Seq((1L, 50L, 1))); q2.processAllAvailable(); q2.stop()
    val late = spark.table("ttc_out2").as[StreamTtc.TRow].collect()
    assert(late.exists(_.late) && !late.exists(r => !r.late))
  }

  // ---- randomized micro-batch replay parity (round-11 verdict #4) -- //
  //
  // The hand-written twin pins above each use ONE fixed 2-batch split;
  // the state-carry bugs they exist to catch (a fold re-seeding at a
  // batch boundary, a sketch merged in the wrong order, an IEEE chain
  // recomputed from scratch) are exactly the bugs a DIFFERENT split
  // would expose. This harness generates a seeded random in-order feed,
  // replays it through RANDOM micro-batch cut points, and asserts
  // bit-equality (== on doubles) against the batch operator — or, for
  // the snapshot twins with no order-free batch mirror, against the
  // same twin replayed as a single batch (split invariance).

  private val fuzzSeed =
    sys.env.getOrElse("SPARK_GRAFT_FUZZ_SEED", "20260815").toLong

  /** Replay `data` through random cuts: each batch is a contiguous
    * slice of the seq-ordered feed, so per-key seq order is preserved
    * (in-order contract) while every key can be split mid-history at
    * any boundary the RNG picks.
    */
  private def randomBatches[T](rnd: scala.util.Random, data: Seq[T]): Seq[Seq[T]] = {
    val nCuts = 1 + rnd.nextInt(5) // 2..6 micro-batches
    val cuts = Seq.fill(nCuts)(rnd.nextInt(data.size + 1)).sorted
    (0 +: cuts :+ data.size).sliding(2).collect {
      case Seq(a, b) if b > a => data.slice(a, b)
    }.toSeq
  }

  private def replayTwin[I, O](name: String, batches: Seq[Seq[I]])(
      mk: org.apache.spark.sql.Dataset[I] => org.apache.spark.sql.Dataset[O])(
      implicit enc: org.apache.spark.sql.Encoder[I]): org.apache.spark.sql.DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[I]
    val q = mk(in.toDS()).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => in.addData(b); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test(s"random micro-batch splits: stateful twins match batch/single-batch bit-exactly (seed $fuzzSeed)") {
    val rnd = new scala.util.Random(fuzzSeed)
    def seqFeed[T](keys: Seq[T], minLen: Int, maxLen: Int): Seq[(T, Long)] =
      keys.flatMap { k =>
        (1 to (minLen + rnd.nextInt(maxLen - minLen + 1))).map(i => (k, i.toLong))
      }.sortBy(_._2) // global seq order interleaves keys, preserves per-key order

    // -- StreamZscore vs Analytics.rollingZscore ------------------- //
    locally {
      val window = 3 + rnd.nextInt(8)
      val minPeriods = 2 + rnd.nextInt(window - 1)
      val data = seqFeed(Seq("a", "b", "c"), 15, 45)
        .map { case (k, i) => (k, i, (rnd.nextInt(50) + 1).toLong) }
      val streamed = replayTwin(s"rz_fuzz_$fuzzSeed", randomBatches(rnd, data)) {
        ds: org.apache.spark.sql.Dataset[(String, Long, Long)] =>
          StreamZscore(ds, window, minPeriods, threshold = 1.5)
      }.select("key", "seq", "z", "isAnomaly").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getBoolean(3))).toMap
      val batch = graft.operators.Analytics.rollingZscore(
          data.toDF("key", "seq", "v"), Seq(col("key")), Seq(col("seq")),
          col("v"), window, minPeriods, threshold = 1.5)
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          ((if (r.isNullAt(3)) None else Some(r.getDouble(3))), r.getBoolean(4))).toMap
      assert(streamed.size == data.size && batch.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(streamed((k, i)) == batch((k, i)), s"zscore ($k, $i)")
      }
    }

    // -- StreamCusum vs Analytics.cusum ---------------------------- //
    locally {
      val drift = rnd.nextInt(20).toDouble
      val thr = (20 + rnd.nextInt(200)).toDouble
      val data = seqFeed(Seq(1L, 2L, 3L), 15, 40).map { case (k, i) =>
        (k, i, if (rnd.nextInt(10) == 0) None
               else Some((rnd.nextInt(120) - 30).toDouble))
      }
      val streamed = replayTwin(s"rc_fuzz_$fuzzSeed", randomBatches(rnd, data)) {
        ds: org.apache.spark.sql.Dataset[(Long, Long, Option[Double])] =>
          StreamCusum(ds, drift, thr)
      }.as[StreamCusum.CRow].collect()
        .map(r => (r.key, r.seq) -> ((r.cusum, r.alarm))).toMap
      val batch = graft.operators.Analytics.cusum(
          data.toDF("k", "seq", "v"), col("k"), Seq(col("seq")), col("seq"),
          col("v"), drift, thr)
        .collect().map(r => (r.getLong(1), r.getLong(0)) ->
          ((if (r.isNullAt(2)) None else Some(r.getDouble(2))), r.getBoolean(3))).toMap
      assert(streamed.size == data.size && batch.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(streamed((k, i)) == batch((k, i)), s"cusum ($k, $i)")
      }
    }

    // -- StreamHoltWinters vs Analytics.holtWinters ---------------- //
    locally {
      val period = 3 + rnd.nextInt(4)
      // arbitrary random doubles are fine here: both engines are JVM
      // folds fed the SAME Double parameter, no SQL literal round-trip
      val alpha = 0.1 + 0.8 * rnd.nextDouble()
      val beta = 0.8 * rnd.nextDouble()
      val gamma = 0.8 * rnd.nextDouble()
      val data = seqFeed(Seq(1L, 2L), 20, 50).map { case (k, i) =>
        (k, i,
          if (rnd.nextInt(12) == 0) None
          else Some(rnd.nextDouble() * 40.0),
          ((i - 1) % period).toInt)
      }
      val streamed = replayTwin(s"rw_fuzz_$fuzzSeed", randomBatches(rnd, data)) {
        ds: org.apache.spark.sql.Dataset[(Long, Long, Option[Double], Int)] =>
          StreamHoltWinters(ds, period, alpha, beta, gamma)
      }.as[StreamHoltWinters.WRow].collect()
        .map(r => (r.key, r.seq) -> ((r.level, r.trend, r.seasonal))).toMap
      val batch = graft.operators.Analytics.holtWinters(
          data.map(t => (t._1, t._2, t._3, t._4)).toDF("k", "seq", "v", "pos"),
          col("k"), Seq(col("seq")), col("seq"), col("v"), col("pos"),
          period, alpha, beta, gamma)
        .collect().map(r => (r.getLong(1), r.getLong(0)) ->
          ((Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double]),
            Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
      assert(streamed.size == data.size && batch.size == data.size)
      data.foreach { case (k, i, _, _) =>
        assert(streamed((k, i)) == batch((k, i)), s"holtwinters ($k, $i)")
      }
    }

    // -- StreamDistinct: split invariance of the per-event KMV walk - //
    locally {
      val pool = Array.fill(40 + rnd.nextInt(200))(rnd.nextLong())
      val data = seqFeed(Seq(1L, 2L), 30, 80).map { case (k, i) =>
        (k, i, pool(rnd.nextInt(pool.length)))
      }
      def run(nm: String, bs: Seq[Seq[(Long, Long, Long)]]) =
        replayTwin(nm, bs) {
          ds: org.apache.spark.sql.Dataset[(Long, Long, Long)] =>
            StreamDistinct(ds, k = 32)
        }.as[StreamDistinct.DRow].collect()
          .map(r => (r.key, r.seq) -> ((r.distinct_count, r.exact, r.late))).toMap
      val split = run(s"rd_fuzz_a_$fuzzSeed", randomBatches(rnd, data))
      val single = run(s"rd_fuzz_b_$fuzzSeed", Seq(data))
      assert(split.size == data.size && single.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(split((k, i)) == single((k, i)), s"distinct ($k, $i)")
      }
    }

    // -- StreamEwma vs Analytics.ewma ------------------------------- //
    locally {
      val alpha = 0.05 + 0.9 * rnd.nextDouble() // JVM-to-JVM: any double
      val data = seqFeed(Seq(1L, 2L, 3L), 15, 40).map { case (k, i) =>
        (k, i, if (rnd.nextInt(10) == 0) None
               else Some(rnd.nextDouble() * 60.0 - 10.0))
      }
      val streamed = replayTwin(s"re_fuzz_$fuzzSeed", randomBatches(rnd, data)) {
        ds: org.apache.spark.sql.Dataset[(Long, Long, Option[Double])] =>
          StreamEwma(ds, alpha)
      }.as[StreamEwma.ERow].collect().map(r => (r.key, r.seq) -> r.ewma).toMap
      val batch = graft.operators.Analytics.ewma(
          data.toDF("k", "seq", "v"), col("k"), Seq(col("seq")), col("seq"),
          col("v"), alpha)
        .collect().map(r => (r.getLong(1), r.getLong(0)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
      assert(streamed.size == data.size && batch.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(streamed((k, i)) == batch((k, i)), s"ewma ($k, $i)")
      }
    }

    // -- StreamHolt vs Analytics.holt ------------------------------- //
    locally {
      val alpha = 0.1 + 0.8 * rnd.nextDouble()
      val beta = 0.9 * rnd.nextDouble()
      val data = seqFeed(Seq(1L, 2L), 15, 40).map { case (k, i) =>
        (k, i, if (rnd.nextInt(12) == 0) None
               else Some(rnd.nextDouble() * 30.0))
      }
      val streamed = replayTwin(s"rh_fuzz_$fuzzSeed", randomBatches(rnd, data)) {
        ds: org.apache.spark.sql.Dataset[(Long, Long, Option[Double])] =>
          StreamHolt(ds, alpha, beta)
      }.as[StreamHolt.HRow].collect()
        .map(r => (r.key, r.seq) -> ((r.level, r.trend, r.forecast))).toMap
      val batch = graft.operators.Analytics.holt(
          data.toDF("k", "seq", "v"), col("k"), Seq(col("seq")), col("seq"),
          col("v"), alpha, beta)
        .collect().map(r => (r.getLong(1), r.getLong(0)) ->
          ((Option(r.get(2)).map(_.asInstanceOf[Double]),
            Option(r.get(3)).map(_.asInstanceOf[Double]),
            Option(r.get(4)).map(_.asInstanceOf[Double])))).toMap
      assert(streamed.size == data.size && batch.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(streamed((k, i)) == batch((k, i)), s"holt ($k, $i)")
      }
    }

    // -- StreamQuantile: per-event KMV-sample walk is split-invariant //
    locally {
      val p = 0.1 + 0.85 * rnd.nextDouble()
      val data = seqFeed(Seq(1L, 2L), 20, 60).map { case (k, i) =>
        (k, i, if (rnd.nextInt(12) == 0) None
               else Some((rnd.nextInt(500) - 100).toDouble))
      }
      def run(nm: String, bs: Seq[Seq[(Long, Long, Option[Double])]]) =
        replayTwin(nm, bs) {
          ds: org.apache.spark.sql.Dataset[(Long, Long, Option[Double])] =>
            StreamQuantile(ds, p, k = 16) // small k: exercise both regimes
        }.as[StreamQuantile.QRow].collect()
          .map(r => (r.key, r.seq) -> ((r.n, r.quantile, r.exact, r.late))).toMap
      val split = run(s"rq_fuzz_a_$fuzzSeed", randomBatches(rnd, data))
      val single = run(s"rq_fuzz_b_$fuzzSeed", Seq(data))
      assert(split.size == data.size && single.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(split((k, i)) == single((k, i)), s"quantile ($k, $i)")
      }
    }

    // -- StreamRecords: running-record walk is split-invariant ------- //
    locally {
      val data = seqFeed(Seq("x", "y", "z"), 15, 50).map { case (k, i) =>
        (k, i, rnd.nextInt(40).toLong) // small domain: repeated maxima
      }
      def run(nm: String, bs: Seq[Seq[(String, Long, Long)]]) =
        replayTwin(nm, bs) {
          ds: org.apache.spark.sql.Dataset[(String, Long, Long)] =>
            StreamRecords(ds)
        }.as[StreamRecords.RRow].collect()
          .map(r => (r.key, r.tick) ->
            ((r.record, r.nRecords, r.maxValue, r.late))).toMap
      val split = run(s"rr_fuzz_a_$fuzzSeed", randomBatches(rnd, data))
      val single = run(s"rr_fuzz_b_$fuzzSeed", Seq(data))
      assert(split.size == data.size && single.size == data.size)
      data.foreach { case (k, i, _) =>
        assert(split((k, i)) == single((k, i)), s"records ($k, $i)")
      }
    }

    // -- StreamTtc: conversion emissions are split-invariant --------- //
    locally {
      var us = 0L
      val data = seqFeed((1L to 8L), 4, 12).map { case (k, _) =>
        us += 1000000L + rnd.nextInt(1000000)
        (k, us, rnd.nextInt(2)) // kind 0 = anchor, 1 = conversion
      }
      def run(nm: String, bs: Seq[Seq[(Long, Long, Int)]]) =
        replayTwin(nm, bs) {
          ds: org.apache.spark.sql.Dataset[(Long, Long, Int)] =>
            StreamTtc(ds)
        }.as[StreamTtc.TRow].collect()
          .map(r => (r.key, r.fromUs, r.toUs, r.delayS, r.late)).sorted.toSeq
      val split = run(s"rt_fuzz_a_$fuzzSeed", randomBatches(rnd, data))
      val single = run(s"rt_fuzz_b_$fuzzSeed", Seq(data))
      assert(split == single, "ttc emission sets diverge across splits")
    }

    // -- StreamFunnel: final per-user state matches the batch funnel - //
    // (per-user ts unique: equal-ts tie order inside the greedy match
    // is the operator's documented ambiguity, not a split artifact.
    // StreamHeavyHitters is deliberately NOT replay-fuzzed: SpaceSaving
    // eviction is arrival-order-dependent and the group iterator's
    // intra-batch order is not deterministic — no order-free final
    // state exists to compare.)
    locally {
      val steps = Seq("a", "b", "c", "d").take(2 + rnd.nextInt(3))
      val ets = Seq("a", "b", "c", "d", "x")
      var us = 0L
      val data = seqFeed((1L to 10L), 5, 15).map { case (u, _) =>
        us += 1L + rnd.nextInt(1000)
        StreamFunnel.FunnelEvent(u, us, ets(rnd.nextInt(ets.size)))
      }
      val streamed = replayTwin(s"rf_fuzz_$fuzzSeed", randomBatches(rnd, data)) {
        ds: org.apache.spark.sql.Dataset[StreamFunnel.FunnelEvent] =>
          StreamFunnel(ds, steps)
      }.as[StreamFunnel.FunnelProgress].collect()
        .groupBy(_.user_id)
        .map { case (u, rows) => u -> rows.maxBy(_.steps_done) } // strictly grows
      val batch = graft.operators.Analytics.funnel(
          data.toDF("u", "tsUs", "et"),
          col("u"), timestamp_micros(col("tsUs")), col("et"), steps)
        .collect().map(r => r.getLong(0) ->
          ((r.getInt(1), Option(r.get(2)).map(_.asInstanceOf[Long]),
            Option(r.get(3)).map(_.asInstanceOf[Long])))).toMap
      // streaming emits only on advancement; batch emits done=0 rows too
      batch.foreach { case (u, (done, t0, tEnd)) =>
        if (done == 0) assert(!streamed.contains(u), s"funnel user $u phantom")
        else {
          val s = streamed(u)
          assert((s.steps_done, Some(s.t0_us), Some(s.t_end_us)) ==
            ((done, t0, tEnd)), s"funnel user $u")
        }
      }
      assert(streamed.keySet.subsetOf(batch.keySet))
    }

    // -- StreamSrm / StreamAmsF2: final counter snapshots invariant -- //
    locally {
      val srmData = (1 to (150 + rnd.nextInt(150))).map { _ =>
        ((1L + rnd.nextInt(5)).toLong, rnd.nextInt(3).toLong) // arm 2 ignored
      }
      def srmFinals(nm: String, bs: Seq[Seq[(Long, Long)]]) =
        replayTwin(nm, bs) {
          ds: org.apache.spark.sql.Dataset[(Long, Long)] => StreamSrm(ds)
        }.as[StreamSrm.SRow].collect()
          .groupBy(_.experiment)
          .map { case (k, rows) => k -> rows.maxBy(r => r.nA + r.nB) }
      val sA = srmFinals(s"rs_fuzz_a_$fuzzSeed", randomBatches(rnd, srmData))
      val sB = srmFinals(s"rs_fuzz_b_$fuzzSeed", Seq(srmData))
      assert(sA.keySet == sB.keySet && sA.nonEmpty)
      sA.keySet.foreach { k =>
        assert((sA(k).nA, sA(k).nB, sA(k).chi2Ppm, sA(k).srm95) ==
          ((sB(k).nA, sB(k).nB, sB(k).chi2Ppm, sB(k).srm95)), s"srm $k")
      }

      val keys = (1 to (100 + rnd.nextInt(200)))
        .map(_ => s"k${rnd.nextInt(40)}")
      val amsData = keys.flatMap(k => (0L until 4L).map(r => (r, k)))
      def amsFinals(nm: String, bs: Seq[Seq[(Long, String)]]) =
        replayTwin(nm, bs) {
          ds: org.apache.spark.sql.Dataset[(Long, String)] => StreamAmsF2(ds)
        }.as[StreamAmsF2.ARow].collect()
          .groupBy(_.replicate)
          .map { case (r, rows) => r -> rows.maxBy(_.nRows) }
      val aA = amsFinals(s"ra_fuzz_a_$fuzzSeed", randomBatches(rnd, amsData))
      val aB = amsFinals(s"ra_fuzz_b_$fuzzSeed", Seq(amsData))
      assert(aA.keySet == aB.keySet && aA.size == 4)
      aA.keySet.foreach { r =>
        assert((aA(r).nRows, aA(r).counter, aA(r).est) ==
          ((aB(r).nRows, aB(r).counter, aB(r).est)), s"ams $r")
      }
    }

    // -- StreamMode: final per-key snapshot is split-invariant ------ //
    locally {
      val alphabet = ('a' to ('a' + 3 + rnd.nextInt(8)).toChar).map(_.toString)
      val data = seqFeed(Seq(1L, 2L, 3L), 25, 60)
        .map { case (k, _) => (k, alphabet(rnd.nextInt(alphabet.size))) }
      // final snapshot = the key's row from its LAST micro-batch, keyed
      // by the real batch id via foreachBatch — the mode-count n is only
      // NON-strictly increasing, so a count-based max can tie and pick
      // an earlier interim snapshot whose mode legitimately differs
      // (seed 9 caught exactly that)
      def finals(bs: Seq[Seq[(Long, String)]]) = {
        implicit val sqlCtx = spark.sqlContext
        val acc = scala.collection.mutable.ArrayBuffer
          .empty[(Long, StreamMode.MRow)]
        val in = MemoryStream[(Long, String)]
        val handler: (org.apache.spark.sql.Dataset[StreamMode.MRow], Long) => Unit =
          (b, id) => acc.synchronized { acc ++= b.collect().map(id -> _) }
        val q = StreamMode(in.toDS(), maxDomain = 5) // small cap: overflow
          .writeStream.foreachBatch(handler).start()
        bs.foreach { b => in.addData(b); q.processAllAvailable() }
        q.stop()
        acc.groupBy(_._2.key).map { case (k, rows) => k -> rows.maxBy(_._1)._2 }
      }
      val split = finals(randomBatches(rnd, data))
      val single = finals(Seq(data))
      assert(split.keySet == single.keySet && split.nonEmpty)
      split.keySet.foreach { k =>
        val (a, b) = (split(k), single(k))
        assert((a.mode, a.n, a.distinct, a.overflowed) ==
          ((b.mode, b.n, b.distinct, b.overflowed)), s"mode key $k")
      }
    }
  }

  // ------------------------------------------------------------------ //
  // Bounded-state evidence under LONG feeds (round-11 verdict #4): the
  // replay harness proves bit-parity; these drive the stateful twins
  // with ~10^5-event feeds across hundreds of micro-batches and assert
  // the state STORE metrics (StreamingQueryProgress.stateOperators)
  // stay at the documented bounds — state rows pinned to the keyed
  // cardinality (keys / shards / users, NEVER event volume), and state
  // bytes PLATEAUING once the per-key caps fill (late-feed high-water
  // ≤ 1.5x the mid-feed high-water + a 4 KiB version-churn allowance).
  // ------------------------------------------------------------------ //

  /** Drive `batches` through `q`, sampling (numRowsTotal, memBytes)
    * from the last progress of every micro-batch round. */
  private def driveWithStateMetrics[T](
      in: MemoryStream[T], q: org.apache.spark.sql.streaming.StreamingQuery,
      batches: Seq[Seq[T]]): Vector[(Long, Long)] = {
    val out = Vector.newBuilder[(Long, Long)]
    batches.foreach { b =>
      in.addData(b)
      q.processAllAvailable()
      q.recentProgress.lastOption
        .filter(_.stateOperators.nonEmpty)
        .foreach { p =>
          out += ((p.stateOperators.map(_.numRowsTotal).sum,
            p.stateOperators.map(_.memoryUsedBytes).sum))
        }
    }
    q.stop()
    out.result()
  }

  private def assertPlateau(traj: Vector[(Long, Long)], label: String): Unit = {
    assert(traj.size >= 8, s"$label: too few sampled progresses")
    val third = traj.size / 3
    val midMax = traj.slice(third, 2 * third).map(_._2).max
    val lateMax = traj.drop(2 * third).map(_._2).max
    assert(lateMax <= midMax * 3 / 2 + 4096,
      s"$label: state bytes still growing late in the feed " +
        s"(mid high-water $midMax, late high-water $lateMax)")
  }

  test("bounded state: KMV/sample/MG/funnel twins hold their documented bounds over 10^5 events") {
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(4242)

    // StreamDistinct: 8 keys, k=64 -> state rows == 8 forever, bytes
    // bounded by 8 sketches of <= 64 longs (150 batches x 670 ~ 100k)
    locally {
      import graft.streaming.StreamDistinct
      val in = MemoryStream[(Long, Long, Long)]
      val q = StreamDistinct(in.toDS(), k = 64)
        .writeStream.format("noop").outputMode("append").start()
      val seqs = Array.fill(8)(0L)
      val batches = Vector.tabulate(150) { _ =>
        Vector.tabulate(670) { j =>
          val key = j % 8
          seqs(key) += 1
          (key.toLong, seqs(key), rnd.nextLong())
        }
      }
      val traj = driveWithStateMetrics(in, q, batches)
      assert(traj.drop(2).forall(_._1 == 8L),
        s"StreamDistinct state rows grew past the key count: $traj")
      assertPlateau(traj, "StreamDistinct")
    }

    // StreamQuantile: 6 keys, k=64 -> rows == 6, <= k sampled pairs each
    locally {
      import graft.streaming.StreamQuantile
      val in = MemoryStream[(Long, Long, Option[Double])]
      val q = StreamQuantile(in.toDS(), p = 0.5, k = 64)
        .writeStream.format("noop").outputMode("append").start()
      val seqs = Array.fill(6)(0L)
      val batches = Vector.tabulate(80) { _ =>
        Vector.tabulate(300) { j =>
          val key = j % 6
          seqs(key) += 1
          (key.toLong, seqs(key), Some(rnd.nextGaussian()))
        }
      }
      val traj = driveWithStateMetrics(in, q, batches)
      assert(traj.drop(2).forall(_._1 == 6L),
        s"StreamQuantile state rows grew past the key count")
      assertPlateau(traj, "StreamQuantile")
    }

    // StreamHeavyHitters on an OPEN WORLD (every event a brand-new
    // string — the case that unbounds a naive groupBy.count to 24k
    // state rows): rows <= shards, bytes bounded by shards x capacity
    locally {
      import graft.streaming.StreamHeavyHitters
      val in = MemoryStream[String]
      val q = StreamHeavyHitters(in.toDS(), capacity = 32, shards = 8)
        .writeStream.format("noop").outputMode("append").start()
      var n = 0L
      val batches = Vector.tabulate(80) { _ =>
        Vector.tabulate(300) { _ => n += 1; s"k$n" }
      }
      val traj = driveWithStateMetrics(in, q, batches)
      assert(traj.forall(_._1 <= 8L),
        s"StreamHeavyHitters state rows exceeded the shard count")
      assertPlateau(traj, "StreamHeavyHitters")
    }

    // StreamFunnel: 50 users cycling through the steps forever ->
    // rows == 50, three numbers each, regardless of event volume
    locally {
      import graft.streaming.StreamFunnel
      val in = MemoryStream[StreamFunnel.FunnelEvent]
      val q = StreamFunnel(in.toDS(), Seq("a", "b", "c"))
        .writeStream.format("noop").outputMode("append").start()
      var ts = 0L
      val batches = Vector.tabulate(80) { _ =>
        Vector.tabulate(300) { j =>
          ts += 1000L
          StreamFunnel.FunnelEvent(j % 50L, ts, Seq("a", "b", "c")(j % 3))
        }
      }
      val traj = driveWithStateMetrics(in, q, batches)
      assert(traj.drop(2).forall(_._1 == 50L),
        s"StreamFunnel state rows grew past the user count")
      assertPlateau(traj, "StreamFunnel")
    }
  }

  test("bounded state: watermark dedup evicts expired keys instead of accreting history") {
    implicit val sqlCtx = spark.sqlContext
    // StreamDedup's transform body (dropDuplicatesWithinWatermark on
    // the dedup columns) driven raw so the query handle exposes the
    // state metrics: 100 batches, each one event-minute later, 300
    // brand-new keys per batch (plus an in-batch duplicate) -> without
    // eviction state reaches 30k rows; the 5-minute watermark must
    // hold it near the in-horizon key count instead
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val deduped = in.toDF().toDF("ts", "k")
      .withWatermark("ts", "5 minutes")
      .dropDuplicatesWithinWatermark(Seq("k"))
    val q = deduped.writeStream.format("noop").outputMode("append").start()
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00").getTime
    val batches = Vector.tabulate(100) { b =>
      val keys = Vector.tabulate(300)(j => b * 1000L + j)
      (keys :+ keys.head).map(k =>
        (new java.sql.Timestamp(t0 + b * 60000L), k))
    }
    val traj = driveWithStateMetrics(in, q, batches)
    val finalRows = traj.last._1
    val totalKeys = 100L * 300L
    // the watermark horizon holds ~6-7 batches of keys (+ engine slack)
    assert(finalRows <= 300L * 12L,
      s"watermark dedup state did not evict: $finalRows rows held")
    assert(finalRows < totalKeys / 5L,
      s"watermark dedup state tracks total history ($finalRows of $totalKeys)")
    assertPlateau(traj, "StreamDedup(watermark)")
  }
}
