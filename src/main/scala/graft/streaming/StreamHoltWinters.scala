package graft.streaming

import graft.operators.Recurrences
import org.apache.spark.sql.Dataset

/** Streaming Holt-Winters — the unbounded twin of
  * [[graft.operators.Analytics.holtWinters]]: per-key additive triple
  * smoothing with O(period) state (level, trend and the seasonal
  * vector — the entire history folds into period + 2 doubles). The
  * live forecaster that tracks a weekly rhythm instead of lagging
  * through it; the third member of the
  * [[StreamEwma]] → [[StreamHolt]] → this state-fold family.
  *
  * The step is the batch operator's own, [[graft.operators.Recurrences
  * .holtWinters]] (same seed, same `pos` wrap into [0, period)), so an
  * in-order feed reproduces the batch output BIT-EXACTLY
  * (spec-pinned). Null values emit null rows and leave state
  * untouched. Ordering and late-row contract: [[SeqFold]].
  */
object StreamHoltWinters {

  case class WRow(key: Long, seq: Long, level: Option[Double],
      trend: Option[Double], seasonal: Option[Double], late: Boolean)

  def apply(
      events: Dataset[(Long, Long, Option[Double], Int)], // (key, seq, x, pos)
      period: Int, alpha: Double, beta: Double, gamma: Double): Dataset[WRow] = {
    require(period >= 2, s"StreamHoltWinters: period must be >= 2, got $period")
    require(alpha > 0.0 && alpha <= 1.0, s"StreamHoltWinters: need 0 < alpha <= 1, got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"StreamHoltWinters: need 0 <= beta <= 1, got $beta")
    require(gamma >= 0.0 && gamma <= 1.0, s"StreamHoltWinters: need 0 <= gamma <= 1, got $gamma")
    import events.sparkSession.implicits._
    SeqFold(events, () => Recurrences.holtWintersState(period))(_._1, _._2)(
      (k, _, e) => WRow(k, e._2, None, None, None, late = true)) { (k, st, e) =>
      val (l, b, s) = Recurrences.holtWinters(st, e._3, e._4, alpha, beta, gamma)
      (st, WRow(k, e._2, l, b, s, late = false))
    }
  }
}
