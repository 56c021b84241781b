package graft.operators

/** The keyed ordered recurrences behind [[Analytics.ewma]],
  * [[Analytics.cusum]], [[Analytics.holt]] and [[Analytics.holtWinters]],
  * each written once. The batch operator folds its step inside
  * `flatMapSortedGroups`; the stream twin (`graft.streaming.StreamEwma`,
  * `StreamCusum`, `StreamHolt`, `StreamHoltWinters`) folds the same step
  * through the keyed seq-ordered driver `graft.streaming.SeqFold`. An
  * in-order feed therefore gives bit-identical rows on both sides by
  * construction: the same IEEE operation chain runs in the same order.
  *
  * Each state is a small mutable accumulator: allocated once per key,
  * updated in place by its step, and a case class so a stream twin can
  * keep it as its `GroupState`. Each step folds one value in sequence
  * order and returns the row's outputs. A null value (None) returns
  * null outputs and leaves the state as it was, so one missing reading
  * neither poisons nor resets the fold.
  */
private[graft] object Recurrences {

  private val NoRow: (Option[Double], Option[Double], Option[Double]) =
    (None, None, None)

  /** EWMA state: the smoothed value, unset until the first value. */
  final case class EwmaState(var s: Double = 0.0, var seeded: Boolean = false)

  /** s' = α·x + (1−α)·s, seeded s = x at the first value. `1.0 - alpha`
    * rounds to the same double as an oracle SQL's `(1 - <alpha>)` for
    * the same literal, keeping the chains aligned.
    */
  def ewma(st: EwmaState, x: Option[Double], alpha: Double): Option[Double] =
    x match {
      case None => None
      case Some(v) =>
        st.s = if (st.seeded) alpha * v + (1.0 - alpha) * st.s else v
        st.seeded = true
        Some(st.s)
    }

  /** CUSUM state: the running statistic, 0 before the first value. */
  final case class CusumState(var s: Double = 0.0)

  /** Page's upper CUSUM s' = max(0, s + (x − drift)), the clamp written
    * as the explicit branch `if (t > 0) t else 0.0`, never max(), so a
    * signed zero cannot leak and a recursive-CTE oracle can mirror it.
    */
  def cusum(st: CusumState, x: Option[Double], drift: Double): Option[Double] =
    x match {
      case None => None
      case Some(v) =>
        val t = st.s + (v - drift)
        st.s = if (t > 0.0) t else 0.0
        Some(st.s)
    }

  /** Holt state: level and trend, unset until the first value. */
  final case class HoltState(var l: Double = 0.0, var b: Double = 0.0,
      var seeded: Boolean = false)

  /** l' = α·x + (1−α)(l + b); b' = β(l' − l) + (1−β)·b, seeded l = x,
    * b = 0 at the first value. Returns (level, trend, forecast = level
    * + trend).
    */
  def holt(st: HoltState, x: Option[Double], alpha: Double, beta: Double)
      : (Option[Double], Option[Double], Option[Double]) =
    x match {
      case None => NoRow
      case Some(v) =>
        if (!st.seeded) { st.l = v; st.b = 0.0; st.seeded = true }
        else {
          val lNew = alpha * v + (1.0 - alpha) * (st.l + st.b)
          st.b = beta * (lNew - st.l) + (1.0 - beta) * st.b
          st.l = lNew
        }
        (Some(st.l), Some(st.b), Some(st.l + st.b))
    }

  /** Holt-Winters state: level, trend and one seasonal per position of
    * the period (`s.length`), all 0 and unset until the first value.
    */
  final case class HoltWintersState(var l: Double, var b: Double,
      s: Array[Double], var seeded: Boolean)

  def holtWintersState(period: Int): HoltWintersState =
    HoltWintersState(0.0, 0.0, new Array[Double](period), seeded = false)

  /** Additive triple smoothing at season position `pos`, wrapped into
    * [0, period) so any integer (a negative one too) names a position:
    * {{{
    * l' = α(x − s[pos]) + (1−α)(l + b)
    * b' = β(l' − l) + (1−β)b
    * s[pos]' = γ(x − l') + (1−γ)s[pos]
    * }}}
    * seeded l = x, b = 0 (seasonals stay 0) at the first value. Returns
    * (level, trend, seasonal = s[pos] after the update).
    */
  def holtWinters(st: HoltWintersState, x: Option[Double], pos: Int,
      alpha: Double, beta: Double, gamma: Double)
      : (Option[Double], Option[Double], Option[Double]) =
    x match {
      case None => NoRow
      case Some(v) =>
        val period = st.s.length
        val p = ((pos % period) + period) % period
        if (!st.seeded) { st.l = v; st.b = 0.0; st.seeded = true }
        else {
          val lNew = alpha * (v - st.s(p)) + (1.0 - alpha) * (st.l + st.b)
          st.b = beta * (lNew - st.l) + (1.0 - beta) * st.b
          st.s(p) = gamma * (v - lNew) + (1.0 - gamma) * st.s(p)
          st.l = lNew
        }
        (Some(st.l), Some(st.b), Some(st.s(p)))
    }
}
