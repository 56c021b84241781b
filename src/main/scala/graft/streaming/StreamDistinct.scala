package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming per-key running DISTINCT count — the unbounded twin of
  * [[graft.operators.Analytics.expandingDistinct]]. The batch rewrite
  * (first-seen flag + running sum) needs the full history per key; a
  * stream cannot keep "every value ever seen", so state is a KMV
  * sketch capped at `k` hashes per key:
  *
  *  - below the cap the sketch IS the exact distinct hash set, and
  *    the emitted count is EXACT — bit-equal to the batch operator's
  *    `cum_distinct` on an in-order feed (spec-pinned);
  *  - past the cap it degrades to the (k−1)/u(θ) KMV estimate with
  *    the usual ~1/√k relative error, and `exact = false` flags the
  *    switch so downstream consumers can tell.
  *
  * The single-value insert is [[graft.functions.TypedAggregators
  * .kmvInsert]] — the SAME routine as the batch kmv aggregator's
  * reduce, so cap/duplicate handling cannot diverge between the twins.
  *
  * Ordering and late-row contract: [[SeqFold]] (a running count
  * cannot be rewound; the late row's value may or may not already be
  * in the sketch).
  *
  * Scale shape: one stateful exchange on the key; state is ≤ k longs
  * per key FOREVER — the entire point vs. the batch operator's
  * per-(key, value) first-seen window, which at 100 TB would shuffle
  * every historical value on every recompute.
  *
  * Input: (key, seq, valueHash) — hash upstream with `xxhash64` (the
  * kmv aggregator's contract).
  */
object StreamDistinct {

  case class DRow(key: Long, seq: Long, distinct_count: Double,
      exact: Boolean, late: Boolean)

  def apply(events: Dataset[(Long, Long, Long)], k: Int = 256): Dataset[DRow] = {
    require(k >= 16, s"StreamDistinct: k must be >= 16, got $k")
    import events.sparkSession.implicits._
    SeqFold(events, () => Array.empty[Long])(_._1, _._2)(
      (key, _, e) => DRow(key, e._2, 0.0, exact = false, late = true)) { (key, sketch, e) =>
      val sk = graft.functions.TypedAggregators.kmvInsert(sketch, e._3, k)
      val (est, isExact) = estimate(sk, k)
      (sk, DRow(key, e._2, est, isExact, late = false))
    }
  }

  private def estimate(sketch: Array[Long], k: Int): (Double, Boolean) =
    if (sketch.length < k) (sketch.length.toDouble, true)
    else {
      val theta = sketch(k - 1)
      val uTheta = (theta.toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64)
      ((k - 1).toDouble / uTheta, false)
    }
}
