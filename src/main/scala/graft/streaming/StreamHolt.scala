package graft.streaming

import graft.operators.Recurrences
import org.apache.spark.sql.Dataset

/** Streaming Holt smoothing — the unbounded twin of
  * [[graft.operators.Analytics.holt]]: per-key level+trend double
  * exponential smoothing over an endless stream with O(1) state per
  * key (two doubles — the entire history folds into (level, trend),
  * which is exactly why Holt is the streaming forecaster of choice
  * over windowed fits).
  *
  * The step is the batch operator's own, [[graft.operators.Recurrences
  * .holt]], so an in-order feed reproduces the batch output
  * BIT-EXACTLY (spec-pinned). A null value emits a null row and leaves
  * the smoothing state untouched.
  *
  * Ordering and late-row contract: [[SeqFold]]. A late row carries
  * null outputs.
  */
object StreamHolt {

  case class HRow(key: Long, seq: Long, level: Option[Double],
      trend: Option[Double], forecast: Option[Double], late: Boolean)

  def apply(
      events: Dataset[(Long, Long, Option[Double])], // (key, seq, x)
      alpha: Double, beta: Double): Dataset[HRow] = {
    require(alpha > 0.0 && alpha <= 1.0, s"StreamHolt: need 0 < alpha <= 1, got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"StreamHolt: need 0 <= beta <= 1, got $beta")
    import events.sparkSession.implicits._
    SeqFold(events, () => Recurrences.HoltState())(_._1, _._2)(
      (k, _, e) => HRow(k, e._2, None, None, None, late = true)) { (k, st, e) =>
      val (l, b, f) = Recurrences.holt(st, e._3, alpha, beta)
      (st, HRow(k, e._2, l, b, f, late = false))
    }
  }
}
