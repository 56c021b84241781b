package graft.streaming

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** STATEFUL in-flight rewrite — the accumulator handoff [[HotSwap]]
  * documents as its residual divergence: the reference rewires a
  * RUNNING pipeline and hands the in-flight accumulator to the
  * replacement component (reference: lib/composite/manipulations.ex:10-74
  * rewires live actors; lib/gen_mix.ex:290-307 passes the running
  * task/acc pair to the new definition), whereas a
  * `flatMapGroupsWithState` operator loses its state store the moment
  * the plan SHAPE changes.
  *
  * The resolution is Spark-first: make the accumulator DATA, not
  * operator state. The per-key state lives in a driver-versioned
  * parquet store; every micro-batch re-enters driver code at the
  * `foreachBatch` boundary and runs the CURRENT
  * `step(batch, state) => (output, newState)`, then commits the new
  * state under the batch id. Swapping `step` — to ANY plan shape, any
  * number of joins/aggregates, even a different output schema — hands
  * the exact accumulated state to the new function at the next batch
  * boundary: the query never stops, same runId, same source offsets.
  * An optional `migrate` runs exactly ONCE at the swap boundary for
  * state-SCHEMA changes (the reference's equivalent moment is the new
  * component adopting the old acc).
  *
  * Durability/idempotence: state versions are `dir/v=<batchId>`; a
  * retried batch overwrites its own version and re-commits — the
  * previous version is kept until the next successful commit, so a
  * mid-write crash replays from intact state. The commit POINTER is
  * durable too: `dir/_latest` records (batchId, version, predecessor)
  * after every commit, and a reconstructed handle (driver restart)
  * re-adopts it before its first batch — see [[recover]]. At scale the state store
  * is a parquet table like any other: partitioned by key hash if the
  * caller's `step` writes it that way, readable by concurrent
  * reporting jobs, and never resident on the driver.
  *
  * Residual divergence (same as [[HotSwap]], documented): handoff
  * granularity is one micro-batch — rows inside a single batch never
  * see both step functions.
  */
final class StatefulHotSwap(
    initialStep: (DataFrame, DataFrame) => (DataFrame, DataFrame)) {

  private case class Gen(
      step: (DataFrame, DataFrame) => (DataFrame, DataFrame),
      pendingMigrate: Option[DataFrame => DataFrame])

  private case class Committed(path: String, batchId: Long, prev: Option[String])

  private val gen = new AtomicReference[Gen](Gen(initialStep, None))
  private val swaps = new AtomicLong(0L)
  // committed state version; None until the first batch commits
  private val committed = new AtomicReference[Option[Committed]](None)

  /** Install `step` for every subsequent micro-batch; `migrate` runs
    * once on the carried state before the first post-swap step (state
    * schema evolution). In-flight batches finish under the old step.
    */
  def swap(
      step: (DataFrame, DataFrame) => (DataFrame, DataFrame),
      migrate: DataFrame => DataFrame = identity): Unit = {
    gen.set(Gen(step, Some(migrate)))
    swaps.incrementAndGet()
    ()
  }

  def swapCount: Long = swaps.get()

  /** The committed accumulator as a frame — readable mid-flight by any
    * concurrent job (it is just parquet); `init` when no batch has
    * committed yet.
    */
  def currentState(spark: SparkSession, init: DataFrame): DataFrame =
    committed.get() match {
      case Some(c) => spark.read.parquet(c.path)
      case None    => init
    }

  private def markerPaths(stateDir: String) =
    (new org.apache.hadoop.fs.Path(s"$stateDir/_latest"),
      new org.apache.hadoop.fs.Path(s"$stateDir/_latest.tmp"))

  /** Durable commit pointer: `<stateDir>/_latest` records (batchId,
    * committed path, predecessor path) after every commit. The
    * in-memory `committed` reference alone would lose the pointer on a
    * driver restart even though the parquet versions survive; the
    * marker makes a RECONSTRUCTED handle resume from the accumulated
    * state — the reference's supervision-restart story. Written as one
    * atomic overwrite through the session's checkpoint file manager, so
    * once written the marker is never missing (it is only ever written
    * AFTER its version committed). Recovery still falls back to a
    * `_latest.tmp` that the earlier tmp/delete/rename writer could
    * leave, so pointers written before keep resuming.
    */
  private def writeMarker(spark: SparkSession, stateDir: String, path: String,
      batchId: Long, prev: Option[String]): Unit = {
    val m = markerPaths(stateDir)._1
    LocalCheckpointFiles.writeAtomic(LocalCheckpointFiles.manager(spark, m.getParent), m,
      s"$batchId\n$path\n${prev.getOrElse("-")}\n")
  }

  /** Recover the committed pointer from the durable `_latest` marker.
    * No-op when this handle already committed in-memory or no marker
    * exists; called automatically before the first batch, and callable
    * explicitly (e.g. to read `currentState` before any batch runs on
    * a rebuilt driver).
    */
  def recover(spark: SparkSession, stateDir: String): Unit =
    if (committed.get().isEmpty) {
      val dir = new org.apache.hadoop.fs.Path(stateDir)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // the marker is read through the manager that writes it
      val fm = LocalCheckpointFiles.manager(spark, dir)
      val (m, tmp) = markerPaths(stateDir)
      val marker =
        LocalCheckpointFiles.readText(fm, m).orElse(LocalCheckpointFiles.readText(fm, tmp))
      marker.foreach { txt =>
        // A crash mid-write of the tmp can leave ANY line garbled (a
        // non-numeric batch id, an empty or invalid path — new Path("")
        // itself throws); an unparseable marker must behave like a
        // MISSING one (fall back to init / on-disk versions), not wedge
        // every runBatch. But ONLY the parse rides the Try: an
        // IOException from fs.exists is a retryable infra error, not a
        // garbled marker — it must propagate (like an error from the
        // marker reads above) so the batch fails
        // retryably instead of silently discarding committed state.
        txt.split("\n").toList match {
          case bid :: path :: prev :: _ =>
            scala.util.Try(
              (bid.toLong, new org.apache.hadoop.fs.Path(path))
            ).toOption.foreach { case (b, p) =>
              // IllegalArgumentException = garbled path (e.g. a
              // wrong-scheme URI → "Wrong FS") → degrade like missing;
              // IOException = retryable infra error → propagate.
              val present =
                try fs.exists(p)
                catch { case _: IllegalArgumentException => false }
              if (present)
                committed.compareAndSet(None,
                  Some(Committed(path, b, Some(prev).filter(_ != "-"))))
            }
          case _ => ()
        }
      }
    }

  /** One micro-batch: load committed state, pop any pending migration
    * (exactly once), run the current step, commit the new state under
    * this batch id, emit the output. Called by [[StatefulHotSwap.sink]].
    */
  private[streaming] def runBatch(
      batch: DataFrame,
      batchId: Long,
      init: DataFrame,
      stateDir: String,
      write: (DataFrame, Long) => Unit): Unit = {
    val spark = batch.sparkSession
    recover(spark, stateDir) // rebuilt-driver resume: adopt _latest
    val g = gen.getAndUpdate(cur => cur.copy(pendingMigrate = None))
    // a RETRIED batch (engine replay after a sink failure) must not
    // consume its own committed output as input — fall back to the
    // predecessor version it originally read
    val carried = committed.get() match {
      case Some(c) if c.batchId == batchId =>
        c.prev.map(spark.read.parquet(_)).getOrElse(init)
      case Some(c) => spark.read.parquet(c.path)
      case None    => init
    }
    val state = g.pendingMigrate.fold(carried)(m => m(carried))
    val (out, newState) = g.step(batch, state)
    val versionPath = s"$stateDir/v=$batchId"
    // the new state reads the OLD version while writing the NEW dir, so
    // the overwrite never clobbers its own input; commit = pointer swap
    newState.write.mode("overwrite").parquet(versionPath)
    val prevPath = committed.get() match {
      case Some(c) if c.batchId == batchId => c.prev
      case Some(c)                         => Some(c.path)
      case None                            => None
    }
    committed.set(Some(Committed(versionPath, batchId, prevPath)))
    writeMarker(spark, stateDir, versionPath, batchId, prevPath)
    val dir = new org.apache.hadoop.fs.Path(stateDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    write(out, batchId)
    // GC: keep only the committed version and its predecessor (the
    // predecessor backs a possible retry of THIS batch)
    val keep = (Seq(versionPath) ++ prevPath.toSeq)
      .map(p => new org.apache.hadoop.fs.Path(p).getName).toSet
    if (fs.exists(dir)) fs.listStatus(dir).foreach { st =>
      if (st.isDirectory && st.getPath.getName.startsWith("v=") &&
        !keep.contains(st.getPath.getName)) { fs.delete(st.getPath, true); () }
    }
  }
}

object StatefulHotSwap {
  def apply(
      step: (DataFrame, DataFrame) => (DataFrame, DataFrame)): StatefulHotSwap =
    new StatefulHotSwap(step)

  /** A [[StreamSink]] running `handle`'s current step each micro-batch
    * with the carried state: `init` seeds the very first batch (and
    * fixes the state schema until a migration changes it); `stateDir`
    * holds the versioned parquet store; `write(output, batchId)`
    * persists each batch's output.
    */
  def sink(
      name: String,
      handle: StatefulHotSwap,
      init: DataFrame,
      stateDir: String,
      write: (DataFrame, Long) => Unit,
      checkpoint: Option[String] = None,
      sync: Boolean = false): StreamSink =
    StreamSink(
      name,
      df => {
        val w = df.writeStream.foreachBatch((batch: DataFrame, id: Long) =>
          handle.runBatch(batch, id, init, stateDir, write))
        checkpoint.fold(w)(p => w.option("checkpointLocation", p))
      },
      sync = sync)
}
