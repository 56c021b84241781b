package graft.streaming

import graft.Flow
import graft.core.Component
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Streaming sources: the unbounded twin of [[graft.sources.Source]].
  * A Flow holds streaming DataFrames transparently — every declarative
  * component (Mixer, Splitter, Transformer expression form, the
  * relational operators that keep to stream-supported shapes) applies
  * unchanged; only sinks differ (queries instead of actions).
  * (Reference: Strom streams are lazy and possibly infinite,
  * lib/strom.ex:7; tests use Stream.cycle, test/gen_mix_test.exs:172.)
  */
final case class StreamSource(name: String, origin: SparkSession => DataFrame)
    extends Component {
  def apply(flow: Flow): Flow =
    graft.core.FlowOps.merge(flow, name, origin(SparkSession.active))
}

object StreamSource {
  /** Monotonic tick stream — the reference's tick source
    * (test/examples/window_test.exs:66-108) without the wall-clock hack.
    */
  def rate(name: String, rowsPerSecond: Int,
      options: Map[String, String] = Map.empty): StreamSource =
    StreamSource(name, _.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond).options(options).load())

  /** Directory-watching file sources (streaming ReadLines,
    * reference: lib/source/read_lines.ex).
    *
    * `options` is the per-source BACKPRESSURE surface — the mapping of
    * Strom's per-component `chunk:`/`buffer:` knobs (lib/gen_mix.ex:7-8):
    * pass `maxFilesPerTrigger`/`maxBytesPerTrigger` here to throttle how
    * much a directory source admits per micro-batch (Kafka-shaped
    * sources take `maxOffsetsPerTrigger` the same way); any other
    * reader option passes through untouched.
    */
  def text(name: String, dir: String,
      options: Map[String, String] = Map.empty): StreamSource =
    StreamSource(name, _.readStream.options(options).text(dir))

  def parquet(name: String, dir: String, schema: StructType,
      options: Map[String, String] = Map.empty): StreamSource =
    StreamSource(name, _.readStream.schema(schema).options(options).parquet(dir))

  def csv(name: String, dir: String, schema: StructType, header: Boolean = true,
      options: Map[String, String] = Map.empty): StreamSource =
    StreamSource(name, _.readStream.schema(schema)
      .option("header", header.toString).options(options).csv(dir))

  def json(name: String, dir: String, schema: StructType,
      options: Map[String, String] = Map.empty): StreamSource =
    StreamSource(name, _.readStream.schema(schema).options(options).json(dir))

  /** An existing streaming DataFrame (e.g. a MemoryStream in tests). */
  def of(name: String, df: DataFrame): StreamSource = StreamSource(name, _ => df)
}

/** Event-time watermarking — bounds state like the reference never does
  * (its force_order memo grows forever, parcels_test.exs:124-142);
  * documented divergence: sufficiently late data is dropped.
  */
final case class Watermark(name: String, tsCol: String, delay: String) extends Component {
  def apply(flow: Flow): Flow = {
    val df = flow.getOrElse(
      name, throw new IllegalArgumentException(s"Watermark: no stream named '$name'"))
    flow.updated(name, df.withWatermark(tsCol, delay))
  }
}

/** Tumbling/sliding event-time window aggregation over a stream —
  * the principled form of the reference's processing-time windows
  * (test/examples/window_test.exs:66-108).
  */
object WindowedAgg {
  def tumbling(
      name: String,
      tsCol: String,
      width: String,
      aggs: Seq[org.apache.spark.sql.Column],
      groupBy: Seq[org.apache.spark.sql.Column] = Nil): Component =
    sliding(name, tsCol, width, width, aggs, groupBy)

  /** Sliding windows: a window of `width` every `slide` (tumbling when
    * equal — [[tumbling]] is that special case).
    */
  def sliding(
      name: String,
      tsCol: String,
      width: String,
      slide: String,
      aggs: Seq[org.apache.spark.sql.Column],
      groupBy: Seq[org.apache.spark.sql.Column] = Nil): Component = {
    require(aggs.nonEmpty, "WindowedAgg: at least one aggregate column is required")
    graft.operators.Transformer(name)(df =>
      df.groupBy(window(col(tsCol), width, slide) +: groupBy: _*).agg(aggs.head, aggs.tail: _*))
  }

  /** Session windows: gap-based grouping with native `session_window`
    * (merging window state, watermark-evicted) — the streaming twin of
    * the batch `Relational.sessionize` lag/cumsum form.
    */
  def session(
      name: String,
      tsCol: String,
      gap: String,
      aggs: Seq[org.apache.spark.sql.Column],
      groupBy: Seq[org.apache.spark.sql.Column]): Component = {
    require(aggs.nonEmpty, "WindowedAgg: at least one aggregate column is required")
    // Spark's streaming session_window requires a grouping key beside
    // the window itself; a Nil default would throw at query START, not
    // at build — fail early with the actual restriction instead.
    require(
      groupBy.nonEmpty,
      "WindowedAgg.session: streaming session windows need at least one " +
        "grouping column besides session_window (Spark restriction)")
    graft.operators.Transformer(name)(df =>
      df.groupBy(session_window(col(tsCol), gap) +: groupBy: _*).agg(aggs.head, aggs.tail: _*))
  }
}

/** Watermarked stream-stream INTERVAL join: match left rows to right
  * rows on a key within `[leftTs + lowerBound, leftTs + upperBound]`.
  * Both watermarks plus the time-bound condition are what let Spark
  * EVICT buffered rows — an unbounded-state stream join without them
  * grows forever, which is the entire design constraint at stream
  * scale. Column names must be disjoint apart from the key.
  */
object StreamJoin {
  def interval(
      left: org.apache.spark.sql.DataFrame,
      right: org.apache.spark.sql.DataFrame,
      key: String,
      leftTs: String,
      rightTs: String,
      delay: String,
      lowerBound: String,
      upperBound: String): org.apache.spark.sql.DataFrame = {
    val l = left.withWatermark(leftTs, delay)
    val r = right.withWatermark(rightTs, delay)
    l.join(r,
      l(key) === r(key) &&
        expr(s"$rightTs >= $leftTs + interval $lowerBound") &&
        expr(s"$rightTs <= $leftTs + interval $upperBound"))
      .drop(r(key))
  }
}

/** Streaming dedup with bounded state — dropDuplicatesWithinWatermark. */
object StreamDedup {
  def apply(name: String, cols: Seq[String]): Component =
    graft.operators.Transformer(name)(_.dropDuplicatesWithinWatermark(cols))

  /** Streaming NEAR-dup dedup: drop documents whose full MinHash
    * signature was already seen inside the watermark. Signature
    * equality is the all-bands-collide limit of LSH banding — a
    * conservative, high-threshold near-dup test (exact duplicates and
    * trivial rewrites collapse; lower `numHashes` to loosen it).
    * State is one xxhash64 of the signature per kept doc, bounded by
    * the watermark — the streaming-safe shape of batch LSH: no pair
    * joins, no unbounded signature table, one row-local fused-codegen
    * projection ([[graft.functions.HashFunctions.minhashSignatureFused]])
    * ahead of the stateful drop.
    *
    * WORDLESS docs (null text or no word tokens) have no meaningful
    * signature — an all-null signature array hashes to the xxhash64
    * seed, which would silently collapse every such doc (e.g. image
    * rows with null captions) into one. Punctuation-only docs are
    * keyed by their RAW text instead (byte-identical still dedups,
    * distinct ones pass through), and NULL-text rows bypass the
    * stateful drop entirely (filter → dedup → union, all inside one
    * streaming plan).
    */
  def byMinhashSignature(
      name: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 16): Component =
    graft.operators.Transformer(name) { df =>
      import graft.functions.TextFunctions.{words, wordShinglesFromWords}
      import org.apache.spark.sql.functions._
      val ws = words(col(textCol))
      val sigHash = xxhash64(
        lit("sig"),
        graft.functions.HashFunctions.minhashSignatureFused(
          array_distinct(wordShinglesFromWords(ws, shingleSize)), numHashes))
      // distinct hash domains ("sig"/"raw") so a raw-text key can
      // never collide with a signature key
      val rawHash = xxhash64(lit("raw"), col(textCol))
      val deduped = df.where(col(textCol).isNotNull)
        .withColumn("_sig_hash", when(size(ws) === 0, rawHash).otherwise(sigHash))
        .dropDuplicatesWithinWatermark(Seq("_sig_hash"))
        .drop("_sig_hash")
      deduped.unionByName(df.where(col(textCol).isNull))
    }
}

/** Streaming sink: starts a StreamingQuery and removes the stream from
  * the flow (reference: lib/sink.ex:69-91 — sync:true blocks, async
  * returns; here sync means "process everything currently available,
  * then stop", the batch-test-friendly trigger).
  *
  * Checkpoints: every query graft starts ([[StreamSink.start]]) writes
  * its checkpoint files — offsets, commits, source and sink logs,
  * state-store deltas — through [[LocalCheckpointFiles]], which starts
  * no process on a local path. A value the user set for
  * `spark.sql.streaming.checkpointFileManagerClass` always wins. The
  * value graft sets stays on the session, so later queries of that
  * session, graft-started or not, use the manager too. The sink's own
  * data files still go through Hadoop's filesystem.
  */
final case class StreamSink(
    name: String,
    build: DataFrame => DataStreamWriter[org.apache.spark.sql.Row],
    sync: Boolean = false,
    noWait: Boolean = false,
    noWaitTimeoutMs: Long = 30000L)
    extends Component {

  def apply(flow: Flow): Flow = {
    val df = flow.getOrElse(
      name, throw new IllegalArgumentException(s"StreamSink: no stream named '$name'"))
    // Consume the mark unconditionally and BEFORE start(): a stale
    // mark left behind on a failed start (or when the sink already has
    // noWait=true) would poison the NEXT query on this stream name.
    val marked = graft.core.NoWait.consume(name)
    val query = StreamSink.start(df.sparkSession, build(df))
    StreamSink.register(name, query)
    if (noWait || marked)
      StreamSink.awaitAnyInputDrained(query, noWaitTimeoutMs)
    else if (sync) { query.processAllAvailable(); query.stop() }
    flow - name
  }
}

object StreamSink {
  // One plain buffer under one lock. The lock covers REGISTRY state
  // only — blocking Spark calls (processAllAvailable, stop) always run
  // on a snapshot taken outside it, so a never-returning drain on an
  // unbounded source cannot deadlock register/active/stop callers.
  private val registry = scala.collection.mutable.ArrayBuffer.empty[(String, StreamingQuery)]
  private def register(name: String, q: StreamingQuery): Unit =
    registry.synchronized { registry += (name -> q); () }

  private val CheckpointFileManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Start `writer`'s query on `spark` — the one place graft starts a
    * streaming query. It first installs [[LocalCheckpointFiles]] as the
    * session's checkpoint file manager, unless the session or its Hadoop
    * configuration already names one: a user-set value wins. The value
    * stays on the session after the query starts (the source's log is
    * made on the query's own thread after `start` returns, so putting
    * the old value back would race it), and every later query of the
    * session uses the manager as well.
    */
  private[graft] def start(spark: SparkSession, writer: DataStreamWriter[Row]): StreamingQuery = {
    if (spark.conf.getOption(CheckpointFileManagerKey).isEmpty &&
        spark.sparkContext.hadoopConfiguration.get(CheckpointFileManagerKey) == null)
      spark.conf.set(CheckpointFileManagerKey, classOf[LocalCheckpointFiles].getName)
    writer.start()
  }

  /** Remove and return the entries matching the predicate. */
  private def take(p: ((String, StreamingQuery)) => Boolean): Seq[(String, StreamingQuery)] =
    registry.synchronized {
      val (out, keep) = registry.partition(p)
      registry.clear(); registry ++= keep
      out.toSeq
    }

  /** All queries started by StreamSinks (the reference's "flow returned
    * to the caller" with runnable handles, lib/sink.ex:77-83).
    */
  def active: Seq[StreamingQuery] =
    registry.synchronized(registry.map(_._2).toSeq).filter(_.isActive)

  /** The `no_wait` stop policy (reference: lib/gen_mix.ex:377-387 via
    * [[graft.operators.Mixer]]): stop the query once some constituent
    * input has halted. Spark exposes no "source ended" signal, so the
    * observable is **a source whose endOffset stops advancing across
    * `confirmBatches` consecutive completed micro-batches** while the
    * query keeps batching (the live side keeps producing batches; a
    * drained finite side contributes nothing to any of them). An
    * end==latest comparison would be wrong on both sides of the mix:
    * rate/kafka report caught-up (end == latest) on nearly every
    * healthy batch, and MemoryStream reports no latestOffset at all.
    * Two supplementary paths close the gaps:
    *  - no further batch AT ALL for `confirmMs` after the last
    *    progress ⇒ nothing is arriving anywhere ⇒ stop (an all-finite
    *    default-trigger query runs one batch and never another);
    *  - a query that terminates on its own rethrows its real failure,
    *    and normal self-termination (Trigger.AvailableNow — every
    *    input finite) counts as drained.
    * Residual heuristic, by construction: a source that is merely idle
    * for `confirmBatches` full batch cycles (or `confirmMs` of total
    * silence) is indistinguishable from a halted one — raise the knobs
    * for bursty production sources. Throws on timeout: a no_wait mix
    * of only-advancing inputs never halts, which is a caller error in
    * a blocking context.
    */
  def awaitAnyInputDrained(
      query: StreamingQuery,
      timeoutMs: Long = 30000L,
      pollMs: Long = 25L,
      confirmMs: Long = 1000L,
      confirmBatches: Int = 2): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stopped = false
    var curBatch = -1L
    var lastEnds = Map.empty[Int, String] // per-source endOffset at curBatch
    var streaks = Map.empty[Int, Int] // consecutive batch transitions with no advancement
    // Armed from the start so a query that never executes a batch at
    // all (every input empty) still stops via the silence path instead
    // of hitting the timeout error.
    var lastProgressAt = System.currentTimeMillis()
    while (!stopped && query.isActive && System.currentTimeMillis() < deadline) {
      val p = query.lastProgress
      if (p != null && p.batchId != curBatch) {
        val ends = p.sources.zipWithIndex.map { case (s, i) =>
          i -> String.valueOf(s.endOffset)
        }.toMap
        if (curBatch >= 0L) {
          streaks = ends.map { case (i, e) =>
            i -> (if (lastEnds.get(i).contains(e)) streaks.getOrElse(i, 0) + 1 else 0)
          }
          if (streaks.values.exists(_ >= confirmBatches)) { query.stop(); stopped = true }
        }
        curBatch = p.batchId
        lastEnds = ends
        lastProgressAt = System.currentTimeMillis()
      } else if (System.currentTimeMillis() - lastProgressAt >= confirmMs &&
          !query.status.isTriggerActive && !query.status.isDataAvailable) {
        // Silence ≠ a long-running micro-batch: lastProgress only
        // updates on batch COMPLETION, so an executing trigger (or
        // known-available data) must never be interrupted — only stop
        // when the engine itself reports idle with nothing to do.
        query.stop(); stopped = true
      }
      if (!stopped) Thread.sleep(pollMs)
    }
    if (!stopped) {
      if (query.isActive) {
        query.stop()
        throw new IllegalStateException(
          s"no_wait: no input drained within ${timeoutMs}ms (all inputs appear unbounded)")
      }
      // The query ended on its own: propagate a real failure, treat
      // normal self-termination (all inputs finite) as drained.
      query.exception.foreach(e => throw e)
    }
  }

  /** Let every active query drain its available input, then stop it. */
  def drainAll(): Unit =
    take(_ => true).foreach { case (_, q) =>
      if (q.isActive) { q.processAllAvailable(); q.stop() }
    }

  /** Stop every registered query immediately (no drain) — the first
    * half of the stop → rebuild → restart-from-checkpoint cycle.
    */
  def stopAll(): Unit = stopNamed(None)

  /** Stop (and unregister) only the queries started by sinks with the
    * given stream names, leaving unrelated pipelines running.
    */
  def stop(names: Set[String]): Unit = stopNamed(Some(names))

  private def stopNamed(names: Option[Set[String]]): Unit =
    take(e => names.forall(_.contains(e._1)))
      .foreach { case (_, q) => if (q.isActive) q.stop() }

  def parquet(name: String, path: String, checkpoint: String): StreamSink =
    StreamSink(name, _.writeStream.format("parquet")
      .option("path", path).option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow()))

  def memory(name: String, tableName: String, outputMode: String = "append"): StreamSink =
    StreamSink(name, _.writeStream.format("memory")
      .queryName(tableName).outputMode(outputMode))

  def console(name: String): StreamSink =
    StreamSink(name, _.writeStream.format("console"))

  /** Per-microbatch escape hatch — the idiomatic home for sinks Spark
    * lacks natively, and for the reference's arbitrary sink origins.
    */
  def foreachBatch(name: String)(f: (DataFrame, Long) => Unit): StreamSink =
    StreamSink(name, _.writeStream.foreachBatch(f))

  /** Exactly-once `foreachBatch`: Spark's checkpoint guarantees each
    * micro-batch is DELIVERED at least once, but after a crash between
    * the user function's side effect and the offset commit, the same
    * `batchId` is REPLAYED — any non-transactional sink (HTTP POST,
    * plain file append, non-idempotent upsert) double-writes. This
    * wrapper makes the side effect idempotent with the standard
    * commit-marker protocol: a `$name-batch-$batchId` marker is written
    * to `commitDir` AFTER `f` succeeds; replays of an already-marked
    * batch are skipped. Markers go through the session's checkpoint
    * file manager (written atomically), so `commitDir` can (and SHOULD) live
    * next to the checkpoint on the same fault-tolerant store — a
    * driver-local path would lose the markers exactly when failover
    * replays batches. Marker-then-crash replays skip (correct — f
    * completed); crash-then-marker replays re-run f (at-least-once for
    * the unmarked tail, exactly-once end-to-end for everything marked).
    *
    * Reset `commitDir` together with the checkpoint: a checkpoint wipe
    * recycles batchIds from 0, and stale markers would silently skip
    * the reprocessed batches. Markers are retained for the trailing
    * `retainBatches` ids (each new marker deletes the one falling off
    * the window — replays only ever target the checkpoint's own tail),
    * so the directory stays bounded on long-running queries.
    */
  def idempotentForeachBatch(
      name: String, commitDir: String, retainBatches: Long = 10000L)(
      f: (DataFrame, Long) => Unit): StreamSink = {
    require(retainBatches > 0, "retainBatches must be positive")
    val guarded: (DataFrame, Long) => Unit = (df, batchId) => {
      val dir = new org.apache.hadoop.fs.Path(commitDir)
      val fm = LocalCheckpointFiles.manager(df.sparkSession, dir)
      fm.mkdirs(dir)
      val marker = new org.apache.hadoop.fs.Path(dir, s"$name-batch-$batchId.committed")
      if (!fm.exists(marker)) {
        f(df, batchId)
        LocalCheckpointFiles.writeAtomic(fm, marker, "")
        fm.delete(new org.apache.hadoop.fs.Path(
          dir, s"$name-batch-${batchId - retainBatches}.committed"))
      }
    }
    StreamSink(name, _.writeStream.foreachBatch(guarded))
  }

  /** Streaming SCD-2 dimension maintenance: fold every micro-batch of
    * a CDC/upsert feed (one row per key per batch — defensively
    * deduped) into a versioned on-disk history via
    * [[graft.operators.Quality.scd2Merge]] with
    * `closeMissing = false` (a micro-batch is a partial feed, not a
    * full snapshot — absent keys stay open). The miniature of what a
    * table format's MERGE does, composed from the batch operator:
    *
    *  - each batch writes a NEW version directory
    *    `tablePath/v=<batchId>` and then flips a `_LATEST` pointer in
    *    one atomic overwrite — readers never observe a half-written
    *    table nor a missing pointer, and the merge
    *    never reads the directory it is writing;
    *  - wrapped in [[idempotentForeachBatch]], so a replayed batch
    *    (sink-side at-least-once) is a no-op — exactly-once downstream;
    *  - `asOf` is the batch id (monotone per stream), so version
    *    intervals are replay-stable.
    *
    * Old versions beyond `retainVersions` are deleted. Read the
    * current table with [[readLatest]].
    */
  def scd2(
      name: String, tablePath: String, commitDir: String,
      keyCols: Seq[String], attrCols: Seq[String],
      retainVersions: Int = 3): StreamSink = {
    require(retainVersions >= 1, "retainVersions must be >= 1")
    idempotentForeachBatch(name, commitDir) { (batch, batchId) =>
      val spark = batch.sparkSession
      val outCols = keyCols ++ attrCols :+ "valid_from" :+ "valid_to"
      val hist = readLatest(spark, tablePath).getOrElse(
        batch.select(keyCols.map(col) ++ attrCols.map(col) :+
          lit(0L).as("valid_from") :+ lit(0L).cast("long").as("valid_to"): _*).limit(0))
      val feed = batch.dropDuplicates(keyCols)
      val merged = graft.operators.Quality.scd2Merge(
        hist, feed, keyCols, attrCols, asOf = batchId, closeMissing = false)
        .select(outCols.map(col): _*)
      merged.write.mode("overwrite").parquet(s"$tablePath/v=$batchId")
      val root = new org.apache.hadoop.fs.Path(tablePath)
      LocalCheckpointFiles.writeAtomic(LocalCheckpointFiles.manager(spark, root),
        new org.apache.hadoop.fs.Path(root, "_LATEST"), batchId.toString)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // prune versions older than the newest retainVersions
      val keep = versionIds(fs, root).sorted.takeRight(retainVersions).toSet
      versionIds(fs, root).filterNot(keep).foreach(v =>
        fs.delete(new org.apache.hadoop.fs.Path(root, s"v=$v"), true))
    }
  }

  /** The current SCD-2 table maintained by [[scd2]], or None before
    * the first committed batch.
    */
  def readLatest(spark: SparkSession, tablePath: String): Option[DataFrame] = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    LocalCheckpointFiles.readText(LocalCheckpointFiles.manager(spark, root),
      new org.apache.hadoop.fs.Path(root, "_LATEST"))
      .map(v => spark.read.parquet(s"$tablePath/v=${v.trim}"))
  }

  private def versionIds(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Seq[Long] =
    fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("v=")).map(_.drop(2).toLong)
}

/** Live manipulation of a RUNNING streaming pipeline (reference:
  * lib/composite/manipulations.ex:10-74 rewires in-flight actors; on
  * Spark the documented equivalent is stop → rebuild the composite
  * value → restart from the sinks' checkpoints). Value-level
  * insert/replace/delete already exist on [[graft.core.Composite]];
  * this helper supplies the runtime half: stop every active query,
  * apply the rewrite, and re-run — source offsets and sink commit logs
  * live in the checkpoint locations, so the new incarnation resumes
  * exactly where the old one stopped (no reprocessing, no loss), state
  * schema compatibility permitting.
  */
object Restart {
  def replaceAndRestart(
      composite: graft.core.Composite,
      flow: Flow)(
      rewrite: graft.core.Composite => graft.core.Composite): Flow = {
    // Stop ONLY this composite's queries (matched by its StreamSinks'
    // stream names) — unrelated pipelines in the session keep running.
    def sinks(cs: Seq[graft.core.Component]): Seq[String] = cs.flatMap {
      case s: StreamSink           => Seq(s.name)
      case c: graft.core.Composite => sinks(c.components)
      case _                       => Nil
    }
    // A composite with no StreamSink owns no queries — stop nothing
    // (falling back to stopAll here would kill unrelated pipelines,
    // the exact hazard this scoping exists to prevent).
    val sinkNames = sinks(composite.components).toSet
    if (sinkNames.nonEmpty) StreamSink.stop(sinkNames)
    rewrite(composite)(flow)
  }
}

/** TRUE in-flight rewrite — the reference's live component replacement
  * (lib/composite/manipulations.ex:10-74 rewires running actors and
  * hands the in-flight tasks to the new components) re-expressed on
  * Spark's execution model, WITHOUT the stop/restart cycle of
  * [[Restart.replaceAndRestart]].
  *
  * Structured Streaming compiles the transform plan once at
  * `start()`, so a running query's MIDDLE cannot be rewired — but the
  * `foreachBatch` boundary re-enters driver code once per micro-batch,
  * and a plan built THERE is fresh every batch. A [[HotSwap]] handle
  * holds the current rewrite function; [[HotSwap.sink]] applies
  * `handle.current` to each micro-batch before writing. Swapping the
  * handle is the task handoff: the batch already executing finishes
  * under the old function (exactly the reference's in-flight tasks
  * completing in the old component), the next batch plans under the
  * new one, and the query never stops — same runId, same source
  * offsets, same sink commit log, stateful upstream operators keep
  * their state. Cluster-correct by construction: the function lives
  * on the driver and each batch ships a fresh plan to the executors.
  *
  * Residual divergence, documented: the handoff granularity is one
  * micro-batch (the reference hands off mid-stream at task
  * granularity); rows inside a single batch never see both functions.
  */
final class HotSwap(initial: DataFrame => DataFrame) {
  private val ref =
    new java.util.concurrent.atomic.AtomicReference[DataFrame => DataFrame](initial)
  private val swaps = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Install `f` for every subsequent micro-batch (atomic; in-flight
    * batches finish under the function they started with).
    */
  def swap(f: DataFrame => DataFrame): Unit = { ref.set(f); swaps.incrementAndGet(); () }

  /** The function the NEXT micro-batch will plan with. */
  def current: DataFrame => DataFrame = ref.get()

  /** How many times [[swap]] has run — observability for operators
    * ("which rewrite generation produced this batch").
    */
  def swapCount: Long = swaps.get()
}

object HotSwap {
  def apply(initial: DataFrame => DataFrame): HotSwap = new HotSwap(initial)

  /** A [[StreamSink]] whose per-batch transform is `handle.current` at
    * the moment each micro-batch fires. `write(transformed, batchId)`
    * persists the result (compose with
    * [[StreamSink.idempotentForeachBatch]]'s marker protocol via the
    * `write` body when the target store is non-transactional).
    */
  def sink(
      name: String,
      handle: HotSwap,
      write: (DataFrame, Long) => Unit,
      checkpoint: Option[String] = None,
      sync: Boolean = false): StreamSink =
    StreamSink(
      name,
      df => {
        val w = df.writeStream.foreachBatch(
          (batch: DataFrame, id: Long) => write(handle.current(batch), id))
        checkpoint.fold(w)(p => w.option("checkpointLocation", p))
      },
      sync = sync)
}
