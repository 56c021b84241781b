package graft.streaming

import graft.operators.Recurrences
import org.apache.spark.sql.Dataset

/** Streaming CUSUM — the unbounded twin of [[graft.operators
  * .Analytics.cusum]]: Page's one-sided drift alarm over an endless
  * per-key stream with O(1) state (the running statistic + high-water
  * mark).
  *
  * The step is the batch fold's own, [[graft.operators.Recurrences
  * .cusum]], so an in-order feed reproduces the batch output
  * BIT-EXACTLY (spec-pinned). Null values emit a null row and leave
  * state untouched. Ordering and late-row contract: [[SeqFold]] (a
  * cumulative statistic cannot rewind).
  */
object StreamCusum {

  case class CRow(key: Long, seq: Long, cusum: Option[Double],
      alarm: Boolean, late: Boolean)

  def apply(
      events: Dataset[(Long, Long, Option[Double])], // (key, seq, x)
      drift: Double,
      threshold: Double): Dataset[CRow] = {
    require(threshold > 0.0, s"StreamCusum: threshold must be > 0, got $threshold")
    import events.sparkSession.implicits._
    SeqFold(events, () => Recurrences.CusumState())(_._1, _._2)(
      (k, _, e) => CRow(k, e._2, None, alarm = false, late = true)) { (k, st, e) =>
      val s = Recurrences.cusum(st, e._3, drift)
      (st, CRow(k, e._2, s, alarm = s.exists(_ > threshold), late = false))
    }
  }
}
