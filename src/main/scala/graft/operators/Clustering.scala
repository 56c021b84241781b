package graft.operators

import graft.core.CacheRegistry
import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed k-means (Lloyd's) over an embedding column.
  *
  * [[Similarity.trainCentroids]] trains coarse quantizers driver-local
  * over a bounded sample — the right cost profile for IVF/SemDeDup cell
  * layouts. This operator is the full-corpus refinement for when the
  * centroids themselves are the product (corpus clustering, topic
  * buckets, balanced sharding): sampled k-means++ init, then
  * distributed Lloyd's iterations where
  *
  *  - assignment is the fused codegen `NearestCentroid` expression
  *    (centroids ride into codegen as a reference object — no join,
  *    no ML pipeline, no netlib), and
  *  - the mean recompute is `posexplode → groupBy(cell, pos) → sum/n`,
  *    a plain partial-aggregating shuffle whose keyspace is k × dim
  *    rows regardless of corpus size.
  *
  * One action per iteration; the corpus is rescanned each round
  * (classic Lloyd's) — persist the input upstream if it is a derived
  * pipeline. Vectors whose dimension differs from the trained majority
  * dimension get a null cell at assignment and drop out of the stats,
  * same contract as IVF. Empty cells keep their previous centroid.
  */
object Clustering {

  final case class KmeansResult(centroids: Array[Array[Double]], iters: Int, lastShift: Double)

  def kmeans(
      df: DataFrame,
      vecCol: String,
      k: Int,
      maxIter: Int = 10,
      tol: Double = 1e-4,
      trainSample: Int = 4096,
      seed: Long = 42L): KmeansResult = {
    require(k >= 1, s"kmeans: k must be >= 1, got $k")
    require(maxIter >= 0, s"kmeans: maxIter must be >= 0, got $maxIter")
    var cents = Similarity.trainCentroids(df, vecCol, k, trainSample, seed)
    val dim = cents.head.length
    var iter = 0
    var shift = Double.MaxValue
    while (iter < maxIter && shift > tol) {
      val stats = assign(df.select(col(vecCol)), vecCol, cents)
        .where(col("cell").isNotNull)
        .select(col("cell"), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        // bounded: nlist x dim aggregate rows per iteration
        .collect()
      val next = cents.map(_.clone())
      val counts = new Array[Long](cents.length)
      stats.foreach { r =>
        val c = r.getInt(0); val p = r.getInt(1)
        next(c)(p) = r.getDouble(2) / r.getLong(3)
        counts(c) = r.getLong(3)
      }
      shift = 0.0
      var c = 0
      while (c < cents.length) {
        if (counts(c) > 0L) {
          var d2 = 0.0
          var p = 0
          while (p < dim) {
            val dd = next(c)(p) - cents(c)(p); d2 += dd * dd; p += 1
          }
          shift = math.max(shift, math.sqrt(d2))
        } // empty cell: centroid unchanged, contributes no shift
        c += 1
      }
      cents = next
      iter += 1
    }
    KmeansResult(cents, iter, if (shift == Double.MaxValue) 0.0 else shift)
  }

  /** Adds an integer `cell` column = index of the nearest centroid
    * (null for dimension-mismatched or null vectors).
    */
  def assign(df: DataFrame, vecCol: String, centroids: Array[Array[Double]]): DataFrame =
    df.withColumn("cell", VectorFunctions.nearestCentroid(col(vecCol), centroids))

  /** Davies-Bouldin index — the lower-is-better partner of
    * [[calinskiHarabasz]] (CH rewards separation globally; DB charges
    * each cluster its WORST neighbor): with the original paper's
    * q = 2 scatter S_c = √(Σ‖x−A_c‖²/n_c) the whole index is
    * moment-computable — Σ‖x−c‖² = Σ‖x‖² − n‖c‖², centroid distances
    * from the per-(cluster, dim) sum frame — so no per-point sqrt
    * ever happens and every sum rides order-proof fixed-scale
    * DECIMALs (the CH discipline); doubles appear only in per-row
    * fixed expression shapes. DB = (1/k)·Σ_c max_{c'≠c}
    * (S_c + S_c')/‖A_c − A_c'‖. Output: (k, n, db); null when k < 2
    * or any two centroids coincide (division by zero separation).
    *
    * Scale shape: one explode aggregate to the (cluster, dim) frame
    * (k·dim rows), a k²·dim broadcast self-join for the pairwise
    * distances, two tiny aggregates — nothing row-scale after the
    * first pass.
    */
  def daviesBouldin(df: DataFrame, labelCol: Column, vecCol: Column): DataFrame = {
    val ev = df.where(labelCol.isNotNull && vecCol.isNotNull)
      .select(labelCol.as("_c"), posexplode(vecCol).as(Seq("_i", "_e")))
      .select(col("_c"), col("_i"), col("_e").cast("double").as("_v"))
    val nc = df.where(labelCol.isNotNull && vecCol.isNotNull)
      .groupBy(labelCol.as("_c")).agg(count(lit(1)).as("_n"))
    val sci = ev.groupBy(col("_c"), col("_i"))
      .agg(sum(round(col("_v"), 10).cast("decimal(38,10)")).as("_s"))
      .join(broadcast(nc), Seq("_c"))
      .transform(CacheRegistry.checkpoint(_))
    val q2c = ev.groupBy(col("_c"))
      .agg(sum(round(col("_v") * col("_v"), 10).cast("decimal(38,10)"))
        .as("_q2"))
    // per-cluster ‖centroid‖² as an order-proof 8dp decimal sum
    val cc2 = sci.select(col("_c"),
        round((col("_s") * col("_s")).cast("double") /
          (col("_n") * col("_n")).cast("double"), 8)
          .cast("decimal(38,8)").as("_t"))
      .groupBy(col("_c")).agg(sum(col("_t")).as("_cc2"))
    val scatter = q2c.join(cc2, Seq("_c")).join(broadcast(nc), Seq("_c"))
      .select(col("_c"),
        sqrt(greatest(
          col("_q2").cast("double") / col("_n").cast("double") -
            col("_cc2").cast("double"), lit(0.0d))).as("_sc"))
    // pairwise centroid distances: per-dim squared gaps as 8dp decimals
    val a = sci.select(col("_c").as("_ca"), col("_i"),
      (col("_s").cast("double") / col("_n").cast("double")).as("_va"))
    val b = sci.select(col("_c").as("_cb"), col("_i"),
      (col("_s").cast("double") / col("_n").cast("double")).as("_vb"))
    val d2 = a.join(b, Seq("_i"))
      .where(col("_ca") =!= col("_cb"))
      .select(col("_ca"), col("_cb"),
        round((col("_va") - col("_vb")) * (col("_va") - col("_vb")), 8)
          .cast("decimal(38,8)").as("_g"))
      .groupBy(col("_ca"), col("_cb")).agg(sum(col("_g")).as("_d2"))
    val r = d2
      .join(broadcast(scatter.select(col("_c").as("_ca"), col("_sc").as("_sa"))),
        Seq("_ca"))
      .join(broadcast(scatter.select(col("_c").as("_cb"), col("_sc").as("_sb"))),
        Seq("_cb"))
      .select(col("_ca"),
        when(col("_d2").cast("double") > 0.0d,
          (col("_sa") + col("_sb")) / sqrt(col("_d2").cast("double")))
          .as("_r"))
    val worst = r.groupBy(col("_ca"))
      .agg(max(col("_r")).as("_w"), count(col("_r")).as("_nr"),
        count(lit(1)).as("_np"))
    val tot = nc.agg(count(lit(1)).as("k"), sum(col("_n")).as("n"))
    tot.crossJoin(broadcast(worst.agg(
        sum(round(col("_w"), 6).cast("decimal(18,6)")).as("_sw"),
        sum(col("_nr")).as("_ok"), sum(col("_np")).as("_all"))))
      .select(col("k"), col("n"),
        when(col("k") >= 2L && col("_ok") === col("_all"),
          round(col("_sw").cast("double") / col("k").cast("double"), 6))
          .as("db"))
  }

  /** Calinski-Harabasz index (variance-ratio criterion) — the
    * clustering-quality scalar that picks k and audits a labeling:
    * CH = (B/(k−1)) / (W/(n−k)), between- over within-cluster scatter.
    * It is exactly multi-dimensional ANOVA, so it reuses
    * [[Analytics.anovaF]]'s identity per dimension: with per-(cluster,
    * dim) sums S, W = Q − Σ S²/n_c and B = Σ S²/n_c − ‖ΣS‖²/N — no
    * centroid subtraction pass over the data at all.
    *
    * Exactness: vector elements (and their squares) are rounded to
    * 10dp DECIMAL before summing ([[graft.operators.Linalg]]'s matvec
    * convention), the two k·dim-bounded Σ S²/n reductions use 6dp
    * DECIMAL terms, and CH is one fixed IEEE shape over five scalars.
    * Shape: one explode + hash-agg to the (k × dim) frame, everything
    * after is dimension-bounded. Output one row: (k, n, ch); null when
    * k < 2, n ≤ k, or W = 0.
    */
  def calinskiHarabasz(df: DataFrame, labelCol: Column, vecCol: Column): DataFrame = {
    val ev = df.where(labelCol.isNotNull && vecCol.isNotNull)
      .select(labelCol.as("_c"), posexplode(vecCol).as(Seq("_i", "_e")))
      .select(col("_c"), col("_i"), col("_e").cast("double").as("_v"))
    val sci = ev.groupBy(col("_c"), col("_i"))
      .agg(sum(round(col("_v"), 10).cast("decimal(38,10)")).as("_s"))
      .transform(CacheRegistry.checkpoint(_))
    val q = ev.agg(sum(round(col("_v") * col("_v"), 10).cast("decimal(38,10)"))
      .as("_q2"))
    val nc = df.where(labelCol.isNotNull && vecCol.isNotNull)
      .groupBy(labelCol.as("_c")).agg(count(lit(1)).as("_n"))
    val a = sci.join(broadcast(nc), Seq("_c"))
      .select(round((col("_s") * col("_s")).cast("double") /
        col("_n").cast("double"), 6).cast("decimal(38,6)").as("_t"))
      .agg(sum(col("_t")).as("_a2"))
    val g = sci.groupBy(col("_i")).agg(sum(col("_s")).as("_st"))
      .crossJoin(broadcast(nc.agg(sum(col("_n")).as("_nt"))))
      .select(round((col("_st") * col("_st")).cast("double") /
        col("_nt").cast("double"), 6).cast("decimal(38,6)").as("_t"))
      .agg(sum(col("_t")).as("_g2"))
    val tot = nc.agg(count(lit(1)).as("k"), sum(col("_n")).as("n"))
    val kD = col("k").cast("double")
    val nD = col("n").cast("double")
    val b = col("_a2").cast("double") - col("_g2").cast("double")
    val w = col("_q2").cast("double") - col("_a2").cast("double")
    tot.crossJoin(broadcast(q)).crossJoin(broadcast(a)).crossJoin(broadcast(g))
      .select(col("k"), col("n"),
        when(col("k") >= 2L && col("n") > col("k") && w > 0.0d,
          round((b / (kD - 1.0d)) / (w / (nD - kD)), 6)).as("ch"))
  }

  /** Simplified silhouette — the per-POINT clustering quality readout
    * beside [[daviesBouldin]] (per-cluster worst neighbor) and
    * [[calinskiHarabasz]] (global variance ratio): for each point,
    * a = distance to its OWN centroid, b = distance to the nearest
    * OTHER centroid, s = (b−a)/max(a,b) ∈ [−1,1]; the mean s says how
    * cleanly points sit inside their clusters. The "simplified" form
    * (centroid distances, not all-pairs) is the standard scale
    * substitute for full silhouette: O(n·k·d) instead of O(n²·d).
    *
    * Determinism: centroids are per-dim means off 10dp-rounded decimal
    * sums, per-(point, cluster) squared distances are sums of
    * 8dp-rounded per-dim gap terms (both the [[daviesBouldin]]
    * discipline — shuffle-order-proof), each point's s is ONE fixed
    * IEEE shape on those exact decimals, and the mean is a 6dp decimal
    * term sum closed by one division. A point sitting exactly on the
    * max(a,b) = 0 degenerate (all data identical) scores 0.
    *
    * Shape: explode points × dims once (n·d), one broadcast join with
    * the k·d centroid frame (n·d·k flops — the algorithm's inherent
    * bound), aggregate to (point, cluster), one conditional-min pass
    * to (point), one closing mean. No window, no n² pair frame.
    * Output one row: (k, n, silhouette).
    */
  def silhouetteSimplified(df: DataFrame, idCol: Column, labelCol: Column,
      vecCol: Column): DataFrame = {
    val base = df.where(idCol.isNotNull && labelCol.isNotNull &&
      vecCol.isNotNull)
    val ev = base
      .select(idCol.as("_p"), labelCol.as("_c"),
        posexplode(vecCol).as(Seq("_i", "_e")))
      .select(col("_p"), col("_c"), col("_i"),
        col("_e").cast("double").as("_v"))
    val nc = base.groupBy(labelCol.as("_c")).agg(count(lit(1)).as("_n"))
    // k·d centroid frame: per-dim means off order-proof decimal sums
    val cent = ev.groupBy(col("_c"), col("_i"))
      .agg(sum(round(col("_v"), 10).cast("decimal(38,10)")).as("_s"))
      .join(broadcast(nc), Seq("_c"))
      .select(col("_c").as("_cc"), col("_i"),
        (col("_s").cast("double") / col("_n").cast("double")).as("_m"))
    val d2 = ev.join(broadcast(cent), Seq("_i"))
      .select(col("_p"), col("_c"), col("_cc"),
        round((col("_v") - col("_m")) * (col("_v") - col("_m")), 8)
          .cast("decimal(38,8)").as("_g"))
      .groupBy(col("_p"), col("_c"), col("_cc"))
      .agg(sum(col("_g")).as("_d2"))
    val per = d2.groupBy(col("_p"), col("_c"))
      .agg(min(when(col("_c") === col("_cc"), col("_d2"))).as("_a2"),
        min(when(col("_c") =!= col("_cc"), col("_d2"))).as("_b2"))
    val s = per.select(
      when(greatest(col("_a2"), col("_b2")).cast("double") > 0.0d,
        (sqrt(col("_b2").cast("double")) - sqrt(col("_a2").cast("double"))) /
          sqrt(greatest(col("_a2"), col("_b2")).cast("double")))
        .otherwise(lit(0.0d)).as("_s"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("_s"), 6).cast("decimal(18,6)")).as("_ss"))
    nc.agg(count(lit(1)).as("k")).crossJoin(broadcast(s))
      .select(col("k"), col("n"),
        when(col("k") >= 2L && col("n") > 0L,
          round(col("_ss").cast("double") / col("n").cast("double"), 6))
          .as("silhouette"))
  }
}
