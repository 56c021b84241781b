package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming trailing-window z-score — the unbounded twin of
  * [[graft.operators.Analytics.rollingZscore]]: flag each value
  * against the mean/std of its key's `window` PRECEDING values, over
  * an endless stream, with per-key state bounded at `window` longs.
  *
  * Arithmetic is IDENTICAL to the batch operator — exact integer
  * (n, Σx, Σx²) over the trailing ring buffer, then the same fixed
  * IEEE op shape `z = (n·x − S) / sqrt((n·Q − S²)·n/(n−1))`, with
  * min-periods and zero-variance decided in integers — so an in-order
  * feed reproduces the batch output BIT-EXACTLY (spec-pinned).
  *
  * Ordering and late-row contract: [[SeqFold]]. A late or duplicate
  * row is surfaced with a null z and never enters the window, rather
  * than silently re-anchoring history.
  *
  * Scale shape: one stateful exchange on the key; state per key is the
  * ring buffer + two running sums (updated O(1) per event, never
  * re-summed), so total state is |keys|·window longs regardless of
  * stream length.
  */
object StreamZscore {

  /** `z` is None below `minPeriods`, at zero variance, or for late
    * rows; `late` marks a dropped out-of-order/duplicate seq (the row
    * did not enter the window).
    */
  case class ZRow(key: String, seq: Long, x: Long, n: Long,
      z: Option[Double], isAnomaly: Boolean, late: Boolean)

  /** The trailing ring buffer and its exact running sums Σx, Σx². */
  private[streaming] case class ZState(ring: Vector[Long], s: Long, q: Long)

  def apply(
      events: Dataset[(String, Long, Long)], // (key, seq, x)
      window: Int,
      minPeriods: Int = 5,
      threshold: Double = 3.0): Dataset[ZRow] = {
    require(window >= 2, s"StreamZscore: window must be >= 2, got $window")
    require(minPeriods >= 2 && minPeriods <= window,
      s"StreamZscore: need 2 <= minPeriods <= window, got $minPeriods")
    require(threshold > 0, s"StreamZscore: threshold must be > 0, got $threshold")
    import events.sparkSession.implicits._
    val keyed = events.filter((e: (String, Long, Long)) => e._1 != null)
    SeqFold(keyed, () => ZState(Vector.empty, 0L, 0L))(_._1, _._2)(
      (k, _, e) => ZRow(k, e._2, e._3, 0L, None, isAnomaly = false, late = true)) {
      (k, st, e) =>
        val x = e._3
        val n = st.ring.size.toLong
        val z =
          if (n >= minPeriods && n * st.q - st.s * st.s > 0)
            // the batch operator's exact op shape, see rollingZscore
            Some((n * x - st.s).toDouble /
              math.sqrt((n * st.q - st.s * st.s).toDouble * n.toDouble /
                (n - 1).toDouble))
          else None
        val grown = st.ring :+ x
        val next =
          if (grown.size > window)
            ZState(grown.tail, st.s + x - grown.head,
              st.q + x * x - grown.head * grown.head)
          else ZState(grown, st.s + x, st.q + x * x)
        (next, ZRow(k, e._2, x, n, z,
          isAnomaly = z.exists(v => math.abs(v) > threshold), late = false))
    }
  }
}
