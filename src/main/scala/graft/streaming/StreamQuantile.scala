package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming running QUANTILE per key — the unbounded twin of
  * [[graft.operators.Analytics.exactQuantiles]]: each arriving value
  * updates a bounded row sample and the current p-quantile estimate is
  * emitted.
  *
  * Sampling is BOTTOM-k BY HASH (the KMV idea applied to rows, not
  * values): a row is kept iff the md5-derived hash of its seq is among
  * the k smallest seen — a deterministic uniform sample that needs no
  * RNG state, is replay-stable, and (like the other twins' exact
  * modes) IS the complete history while n ≤ k, so below the cap the
  * emitted quantile is EXACT type-1 — spec-pinned equal to the batch
  * definition — and `exact = false` flags the estimate regime past it.
  *
  * State per key: ≤ k (hash, value) pairs + count + high-water mark,
  * forever. Ordering and late-row contract: [[SeqFold]]; a late row
  * carries the current count and a null quantile.
  */
object StreamQuantile {

  case class QRow(key: Long, seq: Long, n: Long, quantile: Option[Double],
      exact: Boolean, late: Boolean)

  private[streaming] case class QState(
      hashes: Array[Long], values: Array[Double], n: Long)

  /** md5-derived 64-bit row hash — reproducible, no RNG state. */
  private[streaming] def rowHash(key: Long, seq: Long): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"sq:$key:$seq".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h ^ Long.MinValue // flip so signed order == unsigned hash order
  }

  def apply(events: Dataset[(Long, Long, Option[Double])], p: Double,
      k: Int = 256): Dataset[QRow] = {
    require(p > 0.0 && p <= 1.0, s"StreamQuantile: p must be in (0,1], got $p")
    require(k >= 16, s"StreamQuantile: k must be >= 16, got $k")
    import events.sparkSession.implicits._
    SeqFold(events, () => QState(Array.empty, Array.empty, 0L))(_._1, _._2)(
      (key, st, e) => QRow(key, e._2, st.n, None, exact = false, late = true)) {
      (key, st, e) =>
        val seq = e._2
        e._3 match {
          case None => (st, QRow(key, seq, st.n, None, exact = st.n <= k, late = false))
          case Some(x) =>
            val h = rowHash(key, seq)
            val pos = java.util.Arrays.binarySearch(st.hashes, h)
            val ins = if (pos >= 0) pos else -pos - 1
            val (hs, vs) =
              if (ins >= k) (st.hashes, st.values) // not among bottom-k
              else {
                val m = math.min(st.hashes.length + 1, k)
                val nh = new Array[Long](m); val nv = new Array[Double](m)
                System.arraycopy(st.hashes, 0, nh, 0, ins)
                System.arraycopy(st.values, 0, nv, 0, ins)
                nh(ins) = h; nv(ins) = x
                System.arraycopy(st.hashes, ins, nh, ins + 1, m - ins - 1)
                System.arraycopy(st.values, ins, nv, ins + 1, m - ins - 1)
                (nh, nv)
              }
            val n = st.n + 1
            (QState(hs, vs, n), QRow(key, seq, n, Some(sampleQuantile(vs, p)),
              exact = n <= k, late = false))
        }
    }
  }

  /** Type-1 (lower) quantile of the sample — the batch definition. */
  private def sampleQuantile(values: Array[Double], p: Double): Double = {
    val sorted = values.clone()
    java.util.Arrays.sort(sorted)
    val rank = math.ceil(p * sorted.length).toLong.toInt.max(1)
    sorted(rank - 1)
  }
}
