package graft.streaming

import graft.operators.Analytics
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming ordered funnel — the unbounded twin of
  * [[graft.operators.Analytics.funnel]], keyed state per user via
  * `flatMapGroupsWithState`. Its match predicate is the batch funnel's
  * own, [[graft.operators.Analytics.funnelStepMatches]].
  *
  * Semantics: events are greedily matched against `steps` in event-time
  * order WITHIN each micro-batch (batch contents are sorted before the
  * fold); across batches the state only moves forward. An event arriving
  * in a later batch with a timestamp at or before the last matched step
  * is ignored — streaming cannot re-anchor the funnel on late data the
  * way a batch re-run would (documented divergence, same bounded-state
  * trade as [[ParcelsCep]]'s timeout). A progress row is emitted
  * whenever a batch advances a user's step count, so downstream sees an
  * append-only log of funnel progress; the latest row per user is the
  * current state.
  *
  * Scale shape: one stateful exchange on the user key; per-user state is
  * three numbers regardless of event volume. An optional processing-time
  * timeout evicts idle users (emitting nothing), bounding state for
  * drop-in/never-return traffic.
  */
object StreamFunnel {

  case class FunnelEvent(u: Long, tsUs: Long, et: String)
  case class FunnelState(done: Int, t0Us: Long, tLastUs: Long)
  case class FunnelProgress(user_id: Long, steps_done: Int, t0_us: Long, t_end_us: Long)

  def apply(
      events: Dataset[FunnelEvent],
      steps: Seq[String],
      stateTimeoutMs: Long = 0L,
      maxSpanUs: Long = Long.MaxValue): Dataset[FunnelProgress] = {
    require(steps.nonEmpty, "StreamFunnel: steps must be non-empty")
    require(maxSpanUs > 0L, s"StreamFunnel: maxSpanUs must be positive, got $maxSpanUs")
    import events.sparkSession.implicits._
    val stepArr = steps.toArray
    events
      .groupByKey(_.u)
      .flatMapGroupsWithState(
        OutputMode.Append(),
        if (stateTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout()
        else GroupStateTimeout.NoTimeout())(
        (u: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          process(u, it, state, stepArr, stateTimeoutMs, maxSpanUs))
  }

  private[streaming] def process(
      u: Long,
      it: Iterator[FunnelEvent],
      state: GroupState[FunnelState],
      steps: Array[String],
      stateTimeoutMs: Long,
      maxSpanUs: Long = Long.MaxValue): Iterator[FunnelProgress] = {
    if (state.hasTimedOut) {
      state.remove()
      return Iterator.empty
    }
    var s = state.getOption.getOrElse(FunnelState(0, -1L, -1L))
    val before = s.done
    it.toArray.sortBy(_.tsUs).foreach { e =>
      if (Analytics.funnelStepMatches(steps, maxSpanUs, s.done, s.t0Us, s.tLastUs,
          e.et, e.tsUs))
        s = FunnelState(s.done + 1, if (s.done == 0) e.tsUs else s.t0Us, e.tsUs)
    }
    state.update(s)
    if (stateTimeoutMs > 0) state.setTimeoutDuration(stateTimeoutMs)
    if (s.done > before) Iterator.single(FunnelProgress(u, s.done, s.t0Us, s.tLastUs))
    else Iterator.empty
  }
}
