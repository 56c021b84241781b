package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator[IN, BUF, OUT]` surface — the reference's
  * acc-to-one-value Transformer form (reference: lib/transformer.ex:44-47;
  * the words-count DoCount accumulator builds a `%{word => count}` map,
  * test/examples/words_count_test.exs:11-25). Aggregators get Catalyst's
  * partial/final aggregation for free: the buffer merges map-side, so the
  * shuffle carries one buffer per partition, exactly the hand-rolled
  * partial/final scheme the reference's words-count example wires up
  * manually with a SumAll merge stage.
  */
object TypedAggregators {

  /** The reference's DoCount/SumAll pair as one typed Aggregator:
    * strings in, `Map[token, count]` out.
    */
  val countMap: Aggregator[String, Map[String, Long], Map[String, Long]] =
    new Aggregator[String, Map[String, Long], Map[String, Long]] {
      def zero: Map[String, Long] = Map.empty
      def reduce(acc: Map[String, Long], w: String): Map[String, Long] =
        acc.updated(w, acc.getOrElse(w, 0L) + 1L)
      def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
        b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) }
      def finish(acc: Map[String, Long]): Map[String, Long] = acc
      // Catalyst map encoders (not kryo): the buffer stays in struct
      // form across reduce/merge and the output is a queryable MapType
      // column, not an opaque binary blob.
      def bufferEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
      def outputEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    }

  /** Numerically-stable mean/variance (Welford) — a typical custom
    * statistical accumulator users would port from a reference
    * Transformer acc.
    */
  final case class MomentsBuf(n: Long, mean: Double, m2: Double)

  val moments: Aggregator[Double, MomentsBuf, (Long, Double, Double)] =
    new Aggregator[Double, MomentsBuf, (Long, Double, Double)] {
      def zero: MomentsBuf = MomentsBuf(0L, 0.0, 0.0)
      def reduce(b: MomentsBuf, x: Double): MomentsBuf = {
        val n = b.n + 1
        val d = x - b.mean
        val mean = b.mean + d / n
        MomentsBuf(n, mean, b.m2 + d * (x - mean))
      }
      def merge(a: MomentsBuf, b: MomentsBuf): MomentsBuf =
        if (a.n == 0) b
        else if (b.n == 0) a
        else {
          val n = a.n + b.n
          val d = b.mean - a.mean
          MomentsBuf(
            n,
            a.mean + d * b.n / n,
            a.m2 + b.m2 + d * d * a.n * b.n / n)
        }
      def finish(b: MomentsBuf): (Long, Double, Double) =
        (b.n, b.mean, if (b.n > 1) b.m2 / (b.n - 1) else 0.0)
      def bufferEncoder: Encoder[MomentsBuf] = Encoders.product[MomentsBuf]
      def outputEncoder: Encoder[(Long, Double, Double)] =
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble)
    }

  /** Count-Min bucket for hash row `i`: first 4 bytes of
    * `md5("cms<i>:<key>")` as an unsigned int, mod `w`. md5-derived so
    * an external engine can reproduce the cell assignment exactly —
    * the DuckDB oracle computes the identical bucket as
    * `('0x' || substr(md5('cms' || i || ':' || key), 1, 8))::UBIGINT % w`.
    */
  private[graft] def cmsBucket(i: Int, key: String, w: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"cms$i:$key".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val u = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    (u % w).toInt
  }

  /** Count-Min sketch (Cormode & Muthukrishnan '05): approximate
    * per-key frequencies in `d × w` counters, independent of
    * distinct-key volume. Where [[heavyHitters]] answers "which keys
    * are frequent", Count-Min answers point queries for ANY key —
    * including keys chosen after the pass — with the one-sided
    * guarantee: `estimate(k) >= true(k)` always (every occurrence of
    * `k` lands in all `d` of its cells; collisions only ADD), and
    * `estimate(k) <= true(k) + e·n/w` with probability `1 − 2^−d`.
    *
    * The buffer is one flat `d·w` long array; merge is element-wise
    * addition, so the sketch is a mergeable summary (Agarwal et al.
    * PODS'12): partial sketches combine map-side and the shuffle
    * carries `d·w` longs per partition — the point at 100 TB, where a
    * full `groupBy(key).count` over billions of open-world keys is a
    * shuffle of the whole keyspace. Estimates need no re-scan:
    * `min_i buf(i·w + cmsBucket(i, k, w))`.
    */
  def countMin(d: Int, w: Int): Aggregator[String, Array[Long], Array[Long]] = {
    require(d >= 1, s"countMin: depth d must be >= 1, got $d")
    require(w >= 1, s"countMin: width w must be >= 1, got $w")
    new Aggregator[String, Array[Long], Array[Long]] {
      def zero: Array[Long] = new Array[Long](d * w)
      def reduce(buf: Array[Long], key: String): Array[Long] = {
        if (key != null) {
          var i = 0
          while (i < d) { buf(i * w + cmsBucket(i, key, w)) += 1L; i += 1 }
        }
        buf
      }
      def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      }
      def finish(buf: Array[Long]): Array[Long] = buf
      def bufferEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
      def outputEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    }
  }

  /** The batched MG decrement shared by the batch aggregator and
    * [[graft.streaming.StreamHeavyHitters]]: keep the top `capacity`
    * counters, subtracting the (capacity+1)-th largest value from every
    * survivor. One definition so the subtle cut/tie handling can never
    * diverge between the batch and streaming sketches.
    */
  private[graft] def mgPrune(m: Map[String, Long], capacity: Int): Map[String, Long] =
    if (m.size <= capacity) m
    else {
      val cut = m.values.toSeq.sorted(Ordering[Long].reverse)(capacity)
      m.collect { case (k, v) if v > cut => k -> (v - cut) }
    }

  /** Misra-Gries heavy hitters: one-pass approximate top frequent
    * items in bounded space (`capacity` counters per buffer — the
    * shuffle carries one tiny map per partition instead of the full
    * per-item count table, which is the point at 100 TB: finding the
    * dominant domains/languages/tokens without a full groupBy over
    * billions of distinct keys).
    *
    * Guarantees (classic MG, preserved by the counter-wise merge +
    * re-prune, Agarwal et al., "Mergeable Summaries", PODS'12):
    * every item with true frequency > n/(capacity+1) is present in the
    * output, and each reported count is an UNDERCOUNT by at most
    * n/(capacity+1). Exact counts for the survivors can be pinned with
    * one cheap semi-join pass when needed.
    */
  def heavyHitters(capacity: Int): Aggregator[String, Map[String, Long], Map[String, Long]] = {
    require(capacity >= 1, s"heavyHitters: capacity must be >= 1, got $capacity")
    new Aggregator[String, Map[String, Long], Map[String, Long]] {
      private def prune(m: Map[String, Long]): Map[String, Long] = mgPrune(m, capacity)
      def zero: Map[String, Long] = Map.empty
      def reduce(acc: Map[String, Long], w: String): Map[String, Long] =
        if (w == null) acc
        else prune(acc.updated(w, acc.getOrElse(w, 0L) + 1L))
      def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
        prune(b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) })
      def finish(acc: Map[String, Long]): Map[String, Long] = acc
      def bufferEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
      def outputEncoder: Encoder[Map[String, Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    }
  }

  /** Merge two sorted-distinct long arrays, keep the `k` smallest.
    * Shared by the [[kmv]] aggregator's merge and the set-operation
    * estimators in [[graft.operators.Sketches]] so the union
    * semantics can never diverge between build and estimate time.
    */
  private[graft] def mergeSortedCapped(
      a: Array[Long], b: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](math.min(a.length + b.length, k))
    var i = 0; var j = 0; var n = 0
    while (n < out.length && (i < a.length || j < b.length)) {
      val take =
        if (i >= a.length) { val v = b(j); j += 1; v }
        else if (j >= b.length) { val v = a(i); i += 1; v }
        else if (a(i) < b(j)) { val v = a(i); i += 1; v }
        else if (a(i) > b(j)) { val v = b(j); j += 1; v }
        else { val v = a(i); i += 1; j += 1; v }
      if (n == 0 || out(n - 1) != take) { out(n) = take; n += 1 }
    }
    if (n == out.length) out else java.util.Arrays.copyOf(out, n)
  }

  /** The kmv single-value insert, shared with the streaming twin
    * ([[graft.streaming.StreamDistinct]]) so the cap/dup handling can
    * never diverge between the batch and streaming sketches. Stores
    * sign-flipped (`h ^ Long.MinValue`) like the aggregator buffer.
    */
  private[graft] def kmvInsert(buf: Array[Long], hRaw: Long, k: Int): Array[Long] = {
    val h = hRaw ^ Long.MinValue
    val pos = java.util.Arrays.binarySearch(buf, h)
    if (pos >= 0) buf // already present
    else {
      val ins = -pos - 1
      if (ins >= k) buf // beyond the cap: cannot be among k smallest
      else {
        val n = math.min(buf.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(buf, 0, out, 0, ins)
        out(ins) = h
        System.arraycopy(buf, ins, out, ins + 1, n - ins - 1)
        out
      }
    }
  }

  /** KMV (k-minimum-values) distinct sketch (Beyer et al., SIGMOD'07):
    * keep the `k` smallest distinct hash values seen. Unlike HLL it
    * supports INTERSECTION (and difference) estimation — the k
    * smallest of A ∪ B form a uniform sample of the union, and the
    * fraction of that sample present in both sketches estimates the
    * Jaccard — which is what audience-overlap / cross-corpus-leakage
    * questions need; see [[graft.operators.Sketches
    * .kmvIntersectEstimate]]. Buffer is a sorted long array capped at
    * `k` (mergeable, so map-side partials carry ≤ k values per
    * partition and the shuffle payload is bounded). Input must be a
    * 64-bit hash (e.g. `xxhash64`); values are stored sign-flipped
    * (`h ^ Long.MinValue`) so signed array order equals unsigned hash
    * order. When fewer than `k` distinct values exist the sketch IS
    * the exact distinct hash set.
    */
  def kmv(k: Int): Aggregator[Long, Array[Long], Array[Long]] = {
    require(k >= 16, s"kmv: k must be >= 16, got $k")
    new Aggregator[Long, Array[Long], Array[Long]] {
      def zero: Array[Long] = Array.empty
      def reduce(buf: Array[Long], hRaw: Long): Array[Long] =
        kmvInsert(buf, hRaw, k)
      def merge(a: Array[Long], b: Array[Long]): Array[Long] =
        mergeSortedCapped(a, b, k)
      def finish(buf: Array[Long]): Array[Long] = buf
      def bufferEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
      def outputEncoder: Encoder[Array[Long]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    }
  }

  /** Element-wise vector mean — the embedding-centroid pooling
    * aggregate (per-cluster centroid refresh, per-language corpus
    * centroid, chunk→document pooling). Buffer = (count, running sum
    * per dimension); partial aggregation merges sums map-side like any
    * Aggregator, so the shuffle carries one (n, sums) row per
    * partition. Empty input → null; mismatched dimensions fail fast
    * (mixing 384- and 768-dim vectors in one group is a data bug, not
    * something to average through).
    */
  final case class VecMeanBuf(n: Long, sums: Array[Double])

  val vectorMean: Aggregator[Array[Float], VecMeanBuf, Array[Double]] =
    new Aggregator[Array[Float], VecMeanBuf, Array[Double]] {
      def zero: VecMeanBuf = VecMeanBuf(0L, Array.empty)
      def reduce(b: VecMeanBuf, v: Array[Float]): VecMeanBuf = {
        if (v == null) return b
        if (b.n == 0L) {
          val s = new Array[Double](v.length)
          var i = 0
          while (i < v.length) { s(i) = v(i).toDouble; i += 1 }
          VecMeanBuf(1L, s)
        } else {
          require(v.length == b.sums.length,
            s"vectorMean: dimension mismatch (${v.length} vs ${b.sums.length})")
          val s = b.sums.clone()
          var i = 0
          while (i < v.length) { s(i) += v(i).toDouble; i += 1 }
          VecMeanBuf(b.n + 1L, s)
        }
      }
      def merge(a: VecMeanBuf, b: VecMeanBuf): VecMeanBuf =
        if (a.n == 0L) b
        else if (b.n == 0L) a
        else {
          require(a.sums.length == b.sums.length,
            s"vectorMean: dimension mismatch (${a.sums.length} vs ${b.sums.length})")
          val s = a.sums.clone()
          var i = 0
          while (i < s.length) { s(i) += b.sums(i); i += 1 }
          VecMeanBuf(a.n + b.n, s)
        }
      def finish(b: VecMeanBuf): Array[Double] =
        if (b.n == 0L) null else b.sums.map(_ / b.n)
      def bufferEncoder: Encoder[VecMeanBuf] = Encoders.product[VecMeanBuf]
      def outputEncoder: Encoder[Array[Double]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    }
}
