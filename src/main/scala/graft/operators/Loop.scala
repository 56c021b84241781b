package graft.operators

import graft.Flow
import graft.core.{CacheRegistry, Component}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Feedback cycle (reference: lib/loop.ex:4-67): a named queue used as
  * both sink and source, halting after an idle timeout.
  *
  * Spark has no cyclic plans, so the loop is realized as a driver-side
  * iterate-to-fixpoint: each iteration applies `body` to the current
  * frontier, and the loop terminates when the frontier is empty (the
  * fixpoint) or `maxIterations` is reached. The reference's wall-clock
  * idle timeout (lib/loop.ex:40-51) maps to the empty-frontier check —
  * a deterministic and scale-safe condition (no polling).
  *
  * Each iteration is checkpointed to `stagingPath` as parquet; this
  * truncates lineage (an N-deep iterative plan would otherwise blow up
  * the optimizer) and makes iterations restartable — the same pattern
  * iterative jobs use on real clusters.
  */
final case class Loop(
    name: String,
    body: DataFrame => DataFrame,
    stagingPath: String = "",
    maxIterations: Int = 100,
    ephemeral: Boolean = false,
    bestEffort: Boolean = false)
    extends Component {

  require(maxIterations > 0, s"maxIterations must be positive, got $maxIterations")
  require(
    ephemeral || stagingPath.nonEmpty,
    "Loop needs a stagingPath unless ephemeral = true")

  def apply(flow: Flow): Flow = {
    val spark = SparkSession.active
    var frontier = flow.getOrElse(
      name, throw new IllegalArgumentException(s"Loop: missing stream '$name'"))
    var acc: Option[DataFrame] = None
    var i = 0
    var done = false
    while (!done && i < maxIterations) {
      // ephemeral: eager localCheckpoint (executor-local blocks — faster,
      // not restartable) vs. durable parquet staging (survives driver
      // restarts, debuggable per-iteration artifacts).
      val materialized =
        if (ephemeral) CacheRegistry.checkpoint(frontier)
        else {
          val stage = s"$stagingPath/iter_$i"
          frontier.write.mode("overwrite").parquet(stage)
          spark.read.parquet(stage)
        }
      acc = Some(acc.fold(materialized)(_ unionByName materialized))
      if (materialized.isEmpty) done = true
      else { frontier = body(materialized); i += 1 }
    }
    if (!done) {
      // Exited via the iteration cap, not the empty-frontier fixpoint:
      // the last body(frontier) output is NOT in the result — a silent
      // return would hand back a truncated fixpoint, so fail unless the
      // caller opted into partial results (same contract as
      // Dedup.connectedComponents).
      val msg =
        s"Loop('$name') did not converge within $maxIterations iterations; " +
          "result excludes the final un-materialized frontier"
      if (!bestEffort) throw new IllegalStateException(msg)
      System.err.println(s"[graft.Loop:$name] $msg")
    }
    flow.updated(name, acc.get)
  }
}
