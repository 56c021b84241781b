package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming running-record detector — the live twin of
  * [[graft.operators.Analytics.runningRecords]]: per key, O(1) state
  * (the current all-time max, the record count, a tick high-water
  * mark), emitting a row the moment a value STRICTLY exceeds every
  * earlier one. The "new all-time high" alert is the canonical
  * monitor you want live rather than in the nightly batch — state is
  * three longs per key no matter how long the stream runs.
  *
  * Ordering and late-row contract: [[SeqFold]], with the tick as the
  * seq — a late tick is surfaced with `late = true` rather than
  * silently corrupting the record sequence. On an in-order feed the
  * final per-key (n, n_records, last_record_tick, max_value) equals
  * the batch operator exactly (spec-pinned).
  *
  * Emits one row per INPUT row: (key, tick, value, record, nRecords,
  * maxValue, late).
  */
object StreamRecords {

  case class RRow(key: String, tick: Long, value: Long, record: Boolean,
      nRecords: Long, maxValue: Long, late: Boolean)

  private[streaming] case class RState(max: Long, nRec: Long)

  def apply(events: Dataset[(String, Long, Long)]): Dataset[RRow] = {
    import events.sparkSession.implicits._
    SeqFold(events, () => RState(Long.MinValue, 0L))(_._1, _._2)(
      (key, st, e) => RRow(key, e._2, e._3, record = false, st.nRec, st.max, late = true)) {
      (key, st, e) =>
        val (t, v) = (e._2, e._3)
        val isRec = v > st.max || st.nRec == 0L
        val next = RState(math.max(st.max, v), st.nRec + (if (isRec) 1L else 0L))
        (next, RRow(key, t, v, isRec, next.nRec, next.max, late = false))
    }
  }
}
