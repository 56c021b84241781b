package graft.operators

import graft.core.CacheRegistry
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Distributed iterative linear algebra over an embedding column —
  * the power-iteration building block behind PCA/spectral pipelines
  * (north-star extension; nothing comparable exists in the
  * reference's single-stream folds).
  *
  * Everything here obeys the repo's cross-engine determinism rules:
  * matvec partial products are rounded to fixed decimal and summed as
  * DECIMAL(38,10) (shuffle-order-proof), per-row dot products are
  * in-order IEEE folds, and the only driver state is O(dim) doubles
  * per iteration (the `trainCentroids` bounded-collect contract).
  */
object Linalg {

  /** The power loop over a prepared `(_x: array<double>)` frame:
    * returns (unit eigenvector, λ̂). Shared verbatim by
    * [[powerIteration]] and [[topComponents]] so the deflated pass
    * cannot drift arithmetically from the first.
    */
  private def powerLoop(x: DataFrame, dim: Int, iters: Int): (Array[Double], Double) = {
    var v = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    var lambda = 0.0
    var it = 0
    while (it < iters) {
      val vLit = array(v.map(lit): _*)
      // w = x·v : in-order fold, identical to the oracle's list_reduce
      val w = x.withColumn("_w",
        aggregate(zip_with(col("_x"), vLit, (a, b) => a * b),
          lit(0.0), (acc, y) => acc + y))
      // u_j = Σ_i round(w_i·x_ij, 10) as exact decimal — order-proof
      val u = w
        .select(col("_w"), posexplode(col("_x")).as(Seq("_j", "_xj")))
        .select(col("_j"),
          round(col("_w") * col("_xj"), 10).cast("decimal(38,10)").as("_t"))
        .groupBy(col("_j")).agg(sum(col("_t")).as("_u"))
        // bounded: dim rows (one per vector dimension)
        .collect().map(r => r.getInt(0) -> r.getDecimal(1).doubleValue).toMap
      val uArr = (0 until dim).map(j => u.getOrElse(j, 0.0)).toArray
      var n2 = 0.0
      var j = 0
      while (j < dim) { n2 += uArr(j) * uArr(j); j += 1 } // ascending-j fold
      val norm = math.sqrt(n2)
      require(norm > 0.0, "powerIteration: X^T X v vanished — degenerate input")
      lambda = norm
      v = uArr.map(_ / norm)
      it += 1
    }
    (v, lambda)
  }

  private def r6(d: Double): Double =
    java.math.BigDecimal.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
      .doubleValue

  private def prepared(df: DataFrame, vecCol: String): (DataFrame, Int) = {
    val dim = graft.core.VecDim.probe(df, vecCol, "Linalg.prepared")
    val x = CacheRegistry.persist(
      df.select(col(vecCol).cast("array<double>").as("_x"))
        .where(size(col("_x")) === dim))
    (x, dim)
  }

  /** Top right-singular direction of the (uncentered) data matrix X —
    * power iteration on the Gram matrix Xᵀ X without ever forming it:
    *
    *   w = X·v   (per-row fold — one codegen'd pass, no shuffle)
    *   u = Xᵀ·w  (posexplode → groupBy(dim) → DECIMAL sum: the ONLY
    *              shuffle, and it carries dim×partitions rows)
    *   v ← u/‖u‖ (driver: dim doubles — bounded)
    *
    * Starting vector = 1/√dim on every coordinate (deterministic sign
    * and phase); after `iters` rounds the dominant eigendirection of
    * Xᵀ X has converged at rate (λ₂/λ₁)^iters. λ̂ = ‖u‖ of the last
    * round (the Rayleigh-quotient estimate for a unit input).
    *
    * Scale shape: per iteration ONE scan of the (persisted, pruned)
    * vector column, one |partitions|·dim-row partial-agg shuffle, one
    * dim-row collect. No driver-side matrix, no n×n or dim×dim
    * intermediate anywhere — this is exactly how you get a principal
    * direction out of a 100 TB embedding table.
    *
    * Vectors whose length differs from the first row's dimension are
    * dropped (the IVF/kmeans ragged-input contract). Returns one row
    * per dimension: (dim, coord, lambda) — coord the unit
    * eigenvector entry (6 dp), lambda the shared eigenvalue estimate
    * (6 dp).
    */
  def powerIteration(df: DataFrame, vecCol: String, iters: Int = 2): DataFrame = {
    require(iters >= 1 && iters <= 16,
      s"powerIteration: iters must be in [1,16], got $iters")
    val spark = df.sparkSession
    val (x, dim) = prepared(df, vecCol)
    val (v, lambda) = powerLoop(x, dim, iters)
    val rows = (0 until dim).map(j => Row(j, r6(v(j)), r6(lambda)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("dim", IntegerType, nullable = false),
        StructField("coord", DoubleType, nullable = false),
        StructField("lambda", DoubleType, nullable = false))))
  }

  /** Top-k principal directions by HOTELLING DEFLATION: after each
    * converged component v, every row is re-expressed as
    * x ← x − (x·v)·v (a row-local zip_with — no shuffle, no
    * materialized dim×dim matrix) and the same power loop runs on the
    * residual. Components come out in decreasing λ̂ order; deflation
    * error compounds like (λ₂/λ₁)^iters, which is why `iters` should
    * grow with k. Output: (component ∈ 1..k, dim, coord, lambda).
    *
    * Scale: identical to [[powerIteration]] per component — the
    * deflated frame is a lazy projection over the SAME cached base
    * scan (deflation literals ride into codegen), so k components
    * cost k × the single-component passes, nothing more.
    */
  def topComponents(df: DataFrame, vecCol: String, components: Int = 2,
      iters: Int = 2): DataFrame = {
    require(components >= 1 && components <= 8,
      s"topComponents: components must be in [1,8], got $components")
    val spark = df.sparkSession
    val (x0, dim) = prepared(df, vecCol)
    require(components <= dim, "topComponents: more components than dimensions")
    var x = x0
    val out = Vector.newBuilder[Row]
    for (c <- 1 to components) {
      val (v, lambda) = powerLoop(x, dim, iters)
      (0 until dim).foreach(j => out += Row(c, j, r6(v(j)), r6(lambda)))
      if (c < components) {
        val vLit = array(v.map(lit): _*)
        // w = x·v once per row, then x − w·v — mirrors the oracle's
        // two-step (dot in one CTE, subtraction in the next)
        x = x
          .withColumn("_w",
            aggregate(zip_with(col("_x"), vLit, (a, b) => a * b),
              lit(0.0), (acc, y) => acc + y))
          .select(zip_with(col("_x"), vLit,
            (xi, vi) => xi - col("_w") * vi).as("_x"))
      }
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(out.result(), 1),
      StructType(Seq(
        StructField("component", IntegerType, nullable = false),
        StructField("dim", IntegerType, nullable = false),
        StructField("coord", DoubleType, nullable = false),
        StructField("lambda", DoubleType, nullable = false))))
  }

  /** Linear Centered Kernel Alignment between a representation and its
    * own Matryoshka prefix — THE standard "how similar are two
    * representations" statistic (Kornblith et al., ICML 2019), here
    * answering the training-data question q_matryoshka's overlap@k
    * approximates behaviorally: how much of the full embedding's
    * structure survives truncation to `prefixDims`?
    *
    * {{{ CKA(X, Y) = ‖Yᵀ Xc‖²_F / (‖Xcᵀ Xc‖_F · ‖Ycᵀ Yc‖_F) }}}
    *
    * with column-centered X (n×d, the full vectors) and Y = the first
    * `prefixDims` columns. 1.0 = the prefix spans the same similarity
    * structure; → 0 = truncation destroyed it.
    *
    * Exactness discipline: components are fixed-pointed to integer
    * milli-units (`floor(x·10³)` — float→double is exact, ·10³ and
    * floor are correctly rounded identically on both engines), so
    * every sum is an exact integer (decimal(38,0) here, HUGEINT in
    * the DuckDB oracle) and centering uses the n-scaled identity
    * C_ij = n·ΣXᵢXⱼ − ΣXᵢ·ΣXⱼ — no mean division, no float
    * accumulation; the scale factors cancel between numerator and
    * denominator (both are degree-4 in the same scaling). The ONLY
    * float arithmetic is the final 3-operation readout
    * num / (√dx · √dy), one IEEE shape mirrored operation-for-
    * operation, 6dp.
    *
    * Scale shape: the d×d scatter grid is built with a DOUBLE
    * posexplode of the same row-local array — n·d² generated rows,
    * ZERO joins, no shuffle until the (i,j)-grid hash aggregate
    * (map-side partials into d² groups; one exchange of
    * partitions×d² partial rows). Linear in n, one pass over the
    * cached fixed-point frame (+1 for the column sums, +1 for the
    * count). At corpus scale d² cells per partition must fit in the
    * hash map — at d = 1024 that is 1M partial cells, still
    * executor-trivial.
    */
  def linearCka(df: DataFrame, vecCol: String, prefixDims: Int): DataFrame = {
    val dim = graft.core.VecDim.probe(df, vecCol, "linearCka")
    require(prefixDims >= 1 && prefixDims < dim,
      s"linearCka: prefixDims must be in [1, dim=$dim), got $prefixDims")
    val fx = CacheRegistry.persist(
      df.where(size(col(vecCol)) === dim)
        .select(transform(col(vecCol).cast("array<double>"),
          v => floor(v * lit(1000.0))).as("_v")))
    val n = fx.count()
    val s = fx.select(posexplode(col("_v")))
      .select((col("pos") + 1).as("_i"), col("col").as("_xl"))
      .groupBy(col("_i")).agg(sum(col("_xl")).as("_sv"))
    val p = fx.select(col("_v"), posexplode(col("_v")))
      .select(col("_v"), (col("pos") + 1).as("_ia"), col("col").as("_xa"))
      .select(col("_ia"), col("_xa"), posexplode(col("_v")))
      .select(col("_ia"), (col("pos") + 1).as("_ib"), col("_xa"),
        col("col").as("_xb"))
      .groupBy(col("_ia"), col("_ib"))
      .agg(sum((col("_xa") * col("_xb")).cast("decimal(38,0)")).as("_pp"))
    val c = p
      .join(s.select(col("_i").as("_ia"), col("_sv").as("_sa")), Seq("_ia"))
      .join(s.select(col("_i").as("_ib"), col("_sv").as("_sb")), Seq("_ib"))
      .select(col("_ia"), col("_ib"),
        (lit(n).cast("decimal(38,0)") * col("_pp") -
          col("_sa").cast("decimal(38,0)") *
            col("_sb").cast("decimal(38,0)")).as("_c"))
    // ANSI+CSE: null-guard the DENOMINATOR sums themselves (a when()
    // around the division can be hoisted past its guard)
    c.agg(
      sum(col("_c") * col("_c")).as("_dx"),
      sum(when(col("_ib") <= prefixDims, col("_c") * col("_c"))).as("_nm"),
      sum(when(col("_ia") <= prefixDims && col("_ib") <= prefixDims,
        col("_c") * col("_c"))).as("_dy"))
      .select(
        lit(n).as("n"), lit(dim).as("dim"), lit(prefixDims).as("prefix_dims"),
        round(
          col("_nm").cast("double") /
            (sqrt(when(col("_dx") > 0, col("_dx")).cast("double")) *
             sqrt(when(col("_dy") > 0, col("_dy")).cast("double"))),
          6).as("cka"))
  }
}
