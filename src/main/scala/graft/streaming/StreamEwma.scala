package graft.streaming

import graft.operators.Recurrences
import org.apache.spark.sql.Dataset

/** Streaming EWMA — the unbounded twin of [[graft.operators.Analytics
  * .ewma]]: per-key exponential smoothing over an endless stream with
  * O(1) state per key (the current smoothed value — no ring buffer at
  * all, the entire history is folded into one double).
  *
  * The step is the batch operator's own, [[graft.operators.Recurrences
  * .ewma]], so an in-order feed reproduces the batch output
  * BIT-EXACTLY (spec-pinned). A null value emits a null smoothed row
  * and leaves state untouched.
  *
  * Ordering and late-row contract: [[SeqFold]]. A late row carries a
  * null ewma.
  */
object StreamEwma {

  case class ERow(key: Long, seq: Long, ewma: Option[Double], late: Boolean)

  def apply(
      events: Dataset[(Long, Long, Option[Double])], // (key, seq, x)
      alpha: Double): Dataset[ERow] = {
    require(alpha > 0.0 && alpha <= 1.0, s"StreamEwma: need 0 < alpha <= 1, got $alpha")
    import events.sparkSession.implicits._
    SeqFold(events, () => Recurrences.EwmaState())(_._1, _._2)(
      (k, _, e) => ERow(k, e._2, None, late = true)) { (k, st, e) =>
      (st, ERow(k, e._2, Recurrences.ewma(st, e._3, alpha), late = false))
    }
  }
}
