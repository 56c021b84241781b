package graft.operators

import graft.core.CacheRegistry
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators: compute a sketch ONCE at the finest
  * grouping, then merge partial sketches upward through coarser
  * levels without ever rescanning the raw data. This is THE
  * hierarchical-distinct pattern at 100 TB — `count(DISTINCT)` per
  * rollup level rescans (and reshuffles) the fact table once per
  * level, while sketch rollup scans it once and every coarser level
  * is an aggregate over the previous level's (tiny) sketch frame.
  * The reference's analytics loop has no sketch layer at all
  * (lib/transformer.ex folds are exact single-stream state); this is
  * the distributed replacement.
  */
object Sketches {

  /** Hierarchical distinct-count rollup via Datasketches HLL: one
    * `hll_sketch_agg` pass at the deepest level, then a cascade of
    * `hll_union_agg` merges — level d is built from level d+1's
    * sketches, exercising merged-of-merged re-aggregation the way a
    * daily→monthly→yearly pipeline would. Output: one row per group
    * at every depth (coarser levels null-fill the unused level
    * columns, ROLLUP-style): `<level cols>..., depth, estimate`.
    *
    * Scale shape: the raw table is scanned exactly once (the base
    * aggregate, hash-partitioned on the full key with map-side
    * partial sketches); every cascade step aggregates |groups(d+1)|
    * rows of ≤ 2^lgK-byte sketches — driver never sees a sketch, no
    * action is taken, the whole cascade is one lazy plan. Estimates
    * are engine-specific (Datasketches HLL_8), so correctness gates
    * should pin a tolerance against exact counts, not the estimate
    * value itself.
    */
  def distinctRollup(
      df: DataFrame,
      levels: Seq[(String, Column)],
      value: Column,
      lgK: Int = 14): DataFrame = {
    require(levels.nonEmpty, "distinctRollup: need at least one level")
    require(lgK >= 4 && lgK <= 21, s"distinctRollup: lgK out of [4,21]: $lgK")
    val names = levels.map(_._1)
    // persisted: every cascade level AND the final union branch off
    // this frame — without it each union branch re-runs the base
    // aggregate (= one extra scan of the raw table per level at 100
    // TB, unless AQE exchange reuse happens to fire). The frame is
    // |deepest groups| sketch rows — tiny.
    val base = CacheRegistry.persist(
      df.select(levels.map { case (n, c) => c.as(n) } :+ value.as("_v"): _*)
        .groupBy(names.map(col): _*)
        .agg(hll_sketch_agg(col("_v"), lgK).as("_sk")))
    val types = names.map(n => base.schema(n).dataType)
    def finish(fr: DataFrame, depth: Int): DataFrame =
      fr.select(names.map(col) :+ lit(depth).as("depth") :+
        hll_sketch_estimate(col("_sk")).cast("long").as("estimate"): _*)
    var cur = base
    var out = finish(base, names.size)
    for (d <- names.size - 1 to 0 by -1) {
      val keep = names.take(d)
      val merged = cur.groupBy(keep.map(col): _*)
        .agg(hll_union_agg(col("_sk")).as("_sk"))
      cur = merged.select(keep.map(col) ++
        names.drop(d).zip(types.drop(d)).map { case (n, t) =>
          lit(null).cast(t).as(n)
        } :+ col("_sk"): _*)
      out = out.unionAll(finish(cur, d))
    }
    out
  }

  /** Intersection-cardinality estimate from two [[graft.functions
    * .TypedAggregators.kmv]] sketches built with the same `k`. The k
    * smallest hashes of A ∪ B are a uniform sample of the union;
    * ρ̂ = (members of that sample present in BOTH sketches) / k
    * estimates the Jaccard, and |A∪B| ≈ (k-1)/u(θ) with θ the k-th
    * union minimum (Beyer et al., SIGMOD'07), giving |A∩B| ≈ ρ̂ ·
    * (k-1)/u(θ). When the combined sketch holds fewer than `k` values
    * neither input was ever truncated, so the sketches are exact hash
    * sets and the EXACT intersection count is returned — small-side
    * queries pay zero approximation. Deterministic for a fixed
    * dataset and hash; sketch values are sign-flipped longs (signed
    * order = unsigned hash order).
    */
  def kmvIntersectEstimate(a: Array[Long], b: Array[Long], k: Int): Double = {
    require(k >= 16, s"kmvIntersectEstimate: k must be >= 16, got $k")
    if (a.isEmpty || b.isEmpty) return 0.0
    val union = graft.functions.TypedAggregators.mergeSortedCapped(a, b, k)
    def inBoth(h: Long): Boolean =
      java.util.Arrays.binarySearch(a, h) >= 0 &&
        java.util.Arrays.binarySearch(b, h) >= 0
    if (union.length < k) union.count(inBoth).toDouble
    else {
      val theta = union(k - 1)
      // u(θ): the k-th minimum as a fraction of the unsigned 64-bit
      // hash space (flipped repr: Long.MinValue ↦ 0, Long.MaxValue ↦ 1)
      val uTheta = (theta.toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64)
      val c = union.count(inBoth)
      (c.toDouble / k.toDouble) * ((k - 1).toDouble / uTheta)
    }
  }

  /** Union-cardinality estimate from two [[graft.functions
    * .TypedAggregators.kmv]] sketches: (k−1)/u(θ) over the combined
    * sketch; exact count when the union never filled the cap. Same
    * conventions as [[kmvIntersectEstimate]].
    */
  def kmvUnionEstimate(a: Array[Long], b: Array[Long], k: Int): Double = {
    require(k >= 16, s"kmvUnionEstimate: k must be >= 16, got $k")
    val union = graft.functions.TypedAggregators.mergeSortedCapped(a, b, k)
    if (union.length < k) union.length.toDouble
    else {
      val theta = union(k - 1)
      val uTheta = (theta.toDouble - Long.MinValue.toDouble) / math.pow(2.0, 64)
      (k - 1).toDouble / uTheta
    }
  }

  /** Jaccard estimate |A∩B| / |A∪B| from two kmv sketches: the
    * fraction of the combined sketch present in both sides — the
    * direct ρ̂ estimator, no division of two noisy cardinalities.
    */
  def kmvJaccardEstimate(a: Array[Long], b: Array[Long], k: Int): Double = {
    require(k >= 16, s"kmvJaccardEstimate: k must be >= 16, got $k")
    val union = graft.functions.TypedAggregators.mergeSortedCapped(a, b, k)
    if (union.isEmpty) return 0.0
    def inBoth(h: Long): Boolean =
      java.util.Arrays.binarySearch(a, h) >= 0 &&
        java.util.Arrays.binarySearch(b, h) >= 0
    union.count(inBoth).toDouble / union.length.toDouble
  }

  /** Pre-flight JOIN SIZE estimate via Count-Min inner products
    * (Cormode & Muthukrishnan §4.2): |A ⋈ₖ B| = Σₖ n_A(k)·n_B(k) is
    * exactly the inner product of the two key-frequency vectors, and
    * the CMS estimate min_i ⟨sketchA_i, sketchB_i⟩ obeys the one-sided
    * guarantee  exact ≤ est ≤ exact + e·|A|·|B|/w  (collisions only
    * ADD). The planner question it answers — "will this join explode?"
    * — costs two single-pass d×w sketches and a d·w-long dot product,
    * never a shuffle of either table's keyspace, which is the point
    * before launching a 100 TB join whose output size is unknown.
    *
    * Returns one row: (join_size_est, n_a, n_b, bound_slack) where
    * bound_slack = ⌈e·n_a·n_b/w⌉, the additive error budget the
    * estimate is guaranteed (w.h.p. 1−2^−d per row, min over d rows)
    * to stay within.
    */
  def joinSizeEstimate(dfA: DataFrame, keyA: Column, dfB: DataFrame,
      keyB: Column, d: Int = 4, w: Int = 2048): DataFrame = {
    val cmsUdaf = udaf(graft.functions.TypedAggregators.countMin(d, w),
      org.apache.spark.sql.Encoders.STRING)
    val sa = dfA.select(keyA.cast("string").as("k"))
      .agg(cmsUdaf(col("k")).as("_ska"), count(col("k")).as("n_a"))
    val sb = dfB.select(keyB.cast("string").as("k"))
      .agg(cmsUdaf(col("k")).as("_skb"), count(col("k")).as("n_b"))
    val dots = (0 until d).map { i =>
      aggregate(
        zip_with(
          slice(col("_ska"), i * w + 1, w),
          slice(col("_skb"), i * w + 1, w),
          (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)
    }
    sa.crossJoin(sb) // 1×1 rows
      .select(
        array_min(array(dots: _*)).as("join_size_est"),
        col("n_a"), col("n_b"),
        ceil(col("n_a").cast("double") * col("n_b").cast("double") *
          (math.E / w)).cast("long").as("bound_slack"))
  }

  /** AMS (Alon–Matias–Szegedy) F₂ sketch — the second frequency
    * moment Σ count(key)² in O(R) state: F₂ is the self-join size /
    * repeat-rate / skew readout ("how hot is this keyspace"), and
    * computing it exactly means shuffling the full keyspace. The AMS
    * trick: give every key a ±1 sign from a hash, keep one running
    * signed counter per replicate; E[counter²] = F₂ exactly, and the
    * median over R independent replicates concentrates. The sketch
    * side of this plan shuffles R rows TOTAL (map-side partials) no
    * matter how many input rows — that is the 100 TB path.
    *
    * Determinism: sign_r(key) = 2·(md5("ams<r>:"+key) mod 2) − 1 —
    * the [[graft.functions.TypedAggregators]] CMS hash discipline,
    * reproducible in any engine with md5. The median of the R
    * (integer) squared counters is picked by exact rank
    * ((R+1)/2-th by (value, replicate) order via
    * [[Relational.prefixSum]] — R is odd and tiny), never a float
    * quantile. For the gate the EXACT F₂ is computed beside it (one
    * keyed aggregate — the thing the sketch avoids at scale) so the
    * output pins the estimate against truth:
    * (n_rows, f2_exact, f2_est, err_ppm).
    */
  def amsF2(df: DataFrame, keyCol: Column, replicates: Int = 9): DataFrame = {
    require(replicates >= 1 && replicates % 2 == 1 && replicates <= 99,
      s"amsF2: replicates must be odd in [1,99], got $replicates")
    val keys = CacheRegistry.persist(
      df.select(keyCol.cast("string").as("_k")).where(col("_k").isNotNull))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // R signed counters: explode×R then ONE hash-agg keyed by the
    // replicate id — the shuffle carries R rows regardless of input
    val counters = keys
      .select(col("_k"),
        explode(sequence(lit(0), lit(replicates - 1))).as("_r"))
      .select(col("_r"),
        (conv(substring(md5(concat(lit("ams"), col("_r").cast("string"),
          lit(":"), col("_k"))), 1, 8), 16, 10).cast("long")
          % 2L * 2L - 1L).as("_s"))
      .groupBy(col("_r")).agg(sum(col("_s")).as("_c"))
      .select(col("_r"), (dec(col("_c")) * col("_c")).as("_est"))
    // exact rank-(R+1)/2 median of the R squared counters
    val est = Relational
      .prefixSum(counters, Seq(col("_est"), col("_r")), lit(1L), "_rank")
      .where(col("_rank") === lit((replicates + 1) / 2))
      .select(col("_est").as("_f2est"))
    val exact = keys.groupBy(col("_k")).agg(count(lit(1)).as("_c"))
      .agg(sum(col("_c")).as("n_rows"),
        sum(dec(col("_c")) * col("_c")).as("_f2"))
    exact.crossJoin(broadcast(est))
      .select(col("n_rows"),
        col("_f2").cast("long").as("f2_exact"),
        col("_f2est").cast("long").as("f2_est"),
        when(col("_f2") > 0,
          expr("abs(_f2est - _f2) * 1000000 div _f2").cast("long"))
          .as("err_ppm"))
  }
}
