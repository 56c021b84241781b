package graft.streaming

import graft.core.{CacheRegistry, RunScope}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Live feedback cycle — the STREAMING half of [[graft.operators.Loop]]
  * (reference: lib/loop.ex:4-67, where the Loop component is
  * simultaneously a sink and a source of the same named queue and
  * halts after an idle timeout).
  *
  * Spark's structured streams have no cyclic plans either, so the
  * queue is realized as a watched parquet directory: the query reads
  * `dir/queue`, and each micro-batch (a) appends its rows to the
  * result store `dir/out` and (b) writes `body(batch)` BACK into
  * `dir/queue`, where the file source discovers it as the next batch —
  * the foreachBatch → own-source-dir feedback edge. The cycle halts
  * exactly like the reference's Loop: when the queue goes idle (no new
  * batch for the confirm window — an empty `body` output writes no
  * files), detected by the same engine-idle observer the `no_wait` mix
  * policy uses ([[StreamSink.awaitAnyInputDrained]]); a cycle still
  * feeding itself at `idleTimeoutMs` throws rather than silently
  * truncating — the streaming twin of the batch Loop's
  * `maxIterations` contract.
  *
  * Equivalence contract: the accumulated result equals the batch
  * Loop's fixpoint union when `body` is batch-decomposable
  * (row-local — maps/filters/flatMaps; the reference Loop feeds
  * events back one at a time, so its semantics are row-local by
  * construction). Micro-batch BOUNDARIES are not deterministic
  * (several queue files may coalesce into one trigger), only the
  * accumulated set is.
  *
  * Scale: each iteration's rows cross the pipeline once, parquet
  * staging truncates lineage per cycle exactly like the batch Loop's
  * durable mode, and the per-trigger admission is throttleable via
  * `options` (`maxFilesPerTrigger`/`maxBytesPerTrigger` — the same
  * backpressure surface as [[StreamSource]], Strom's `buffer:`).
  *
  * Failure semantics: the (append-to-out, re-enqueue) pair is guarded
  * by [[StreamSink.idempotentForeachBatch]]'s batchId commit-marker
  * protocol (`dir/_commits`) — a replayed micro-batch (crash between
  * side effect and offset commit, or restart from the checkpoint)
  * whose marker exists is SKIPPED, so out gains no duplicate rows and
  * the queue is not re-fed (without this a replay would amplify
  * around the cycle: duplicated queue files breed duplicated
  * generations). A crash strictly between the pair and its marker
  * replays that one unmarked batch (at-least-once for the unmarked
  * tail — the protocol's documented contract); everything marked is
  * exactly-once end-to-end.
  */
object StreamingLoop {
  /** @param resume restart an interrupted loop on an existing `dir`
    *   WITHOUT re-seeding: the checkpoint replays any in-flight batch
    *   (skipped if its commit marker exists), the queue's unconsumed
    *   tail drives the remaining iterations, and the accumulated
    *   result still converges to the same fixpoint. A fresh run with
    *   `resume = true` on an empty dir halts immediately (no seed).
    */
  def run(
      spark: SparkSession,
      seed: DataFrame,
      body: DataFrame => DataFrame,
      dir: String,
      idleTimeoutMs: Long = 30000L,
      options: Map[String, String] = Map.empty,
      resume: Boolean = false): DataFrame = {
    val queue = s"$dir/queue"
    val out = s"$dir/out"
    val schema = seed.schema
    if (!resume) seed.write.mode("append").parquet(queue)
    // the commit-marker guard lives in the shared StreamSink factory —
    // same protocol, same replay-skip spec coverage
    val guarded = StreamSink.idempotentForeachBatch("loop", s"$dir/_commits") {
      (batch: DataFrame, _: Long) =>
        // the batch's frames are released when it ends: the query's own
        // scope is not drained while the query runs
        RunScope.scoped {
          try {
            CacheRegistry.persist(batch).write.mode("append").parquet(out)
            // persist + count so body(batch) is evaluated exactly ONCE:
            // a bare isEmpty-then-write would run the body twice per
            // iteration, and a non-deterministic body could pass the
            // emptiness check yet write a different (or empty) generation
            val next = CacheRegistry.persist(body(batch))
            // an empty next writes NO file -> the queue goes idle -> halt
            if (next.count() > 0L) next.write.mode("append").parquet(queue)
          } finally CacheRegistry.unpersistAll()
        }
    }
    val query = StreamSink.start(spark, guarded
      .build(spark.readStream.schema(schema).options(options).parquet(queue))
      .option("checkpointLocation", s"$dir/_checkpoint"))
    StreamSink.awaitAnyInputDrained(query, idleTimeoutMs)
    spark.read.schema(schema).parquet(out)
  }
}
