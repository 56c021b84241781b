package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming time-to-convert — the unbounded twin of
  * [[graft.operators.Analytics.timeToConvert]]: per user, anchor at
  * the FIRST from-event, emit exactly one row at the first to-event
  * at-or-after it, exact integer seconds — live activation latency
  * instead of a nightly batch readout.
  *
  * State is O(1) per key forever: (anchor µs, converted flag,
  * high-water µs). On an in-order feed the emitted (from_us, to_us,
  * delay_s) triple equals the batch operator's row bit-for-bit
  * (spec-pinned). The ordering contract is [[SeqFold]]'s with one
  * difference, which is why this twin keeps its own fold: rows sort
  * by (µs, kind) and only a row strictly BELOW the high-water mark is
  * late, so a from-event and a to-event at the same instant both fold.
  * A late row is surfaced with `late = true` and NOT folded — a late
  * earlier from-event could only have moved the anchor backward, and
  * conversion rows, once emitted, are immutable facts downstream.
  */
object StreamTtc {

  /** kind: 0 = from-event (signup), 1 = to-event (purchase). */
  case class TRow(key: Long, fromUs: Long, toUs: Long, delayS: Long,
      late: Boolean)

  private[streaming] case class TState(
      fromUs: Option[Long], converted: Boolean, maxUs: Long)

  def apply(events: Dataset[(Long, Long, Int)]): Dataset[TRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        (key: Long, it: Iterator[(Long, Long, Int)], state: GroupState[TState]) =>
          process(key, it, state))
  }

  private[streaming] def process(
      key: Long,
      it: Iterator[(Long, Long, Int)],
      state: GroupState[TState]): Iterator[TRow] = {
    var st = state.getOption.getOrElse(TState(None, converted = false, Long.MinValue))
    val out = Vector.newBuilder[TRow]
    it.toVector.sortBy(r => (r._2, r._3)).foreach { case (_, us, kind) =>
      if (us < st.maxUs)
        out += TRow(key, -1L, us, -1L, late = true)
      else {
        st = st.copy(maxUs = us)
        if (kind == 0 && st.fromUs.isEmpty) st = st.copy(fromUs = Some(us))
        else if (kind == 1 && !st.converted) st.fromUs.foreach { f =>
          // batch contract: first to-event AT-OR-AFTER the anchor
          if (us >= f) {
            out += TRow(key, f, us, (us - f) / 1000000L, late = false)
            st = st.copy(converted = true)
          }
        }
      }
    }
    state.update(st)
    out.result().iterator
  }
}
